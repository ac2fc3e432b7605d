"""Incrementally-maintained aggregate views over transactional tables.

A 100 TB pipeline keeps derived aggregates (per-source token counts,
per-day revenue, per-cluster doc counts) that are consumed far more often
than their base tables change. Recomputing such a view from the base on
every refresh costs a full scan; the classic incremental-view-maintenance
result (Gupta & Mumick, "Maintenance of Materialized Views", IEEE Data
Eng. Bull. 1995) is that SUM/COUNT group-bys are SELF-MAINTAINABLE: the
new view state is a function of the old state and the row-level delta
only — no base-table access.

:class:`IncrementalAggView` implements exactly that on top of
`table.TransactionalTable`:

* the DELTA comes from :meth:`~fefal_etl_spark.table.TransactionalTable.
  row_deltas`, the ±1 projection of the table's change feed, which reads
  each commit's change units from the commit log
  (`table.change_units`) — an append refresh reads only the appended
  files, a deletion-vector delete refresh only the files the new
  vectors address, so refresh cost is O(changed data + view), never
  O(base); a refresh spanning several commits reads each commit's
  changed files;
* the view STATE is itself a transactional table (atomic publish, time
  travel over refresh history), and the applied source version rides in
  the manifest's txn ledger — a crashed-and-replayed refresh is skipped
  inside the commit CAS, so refreshes are exactly-once;
* SUMs are carried as DECIMAL(30,4) so incremental addition is exact and
  order-independent (float accumulation would drift from a full
  recompute); a per-column non-null count restores the SQL convention
  that a group with no non-null values has SUM = NULL.

MIN/MAX are deliberately not offered: they are not self-maintainable
under deletes (the deleted row may have been the extremum — restoring it
needs the base). A view needing them should recompute or keep a
heap-per-group elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fefal_etl_spark.table import TransactionalTable

_DEC = "decimal(30,4)"
_DEC_SQ = "decimal(38,8)"  # Σx² carrier (x as decimal(18,4), x² = (37,8))


class IncrementalAggView:
    """A SUM/COUNT group-by view over a :class:`TransactionalTable`,
    refreshed incrementally from the source's commit log.

    State schema: ``group_keys…, n_rows, sum_<c> + nn_<c>`` per sum
    column (``nn`` = non-null count, internal). :meth:`current` projects
    the user-facing frame; :meth:`refresh` advances the state to the
    source's latest snapshot."""

    LEDGER_APP = "__mv_source__"

    def __init__(
        self,
        spark: SparkSession,
        source: TransactionalTable,
        root: str,
        group_keys: list[str],
        sum_cols: list[str],
        track_sumsq: bool = False,
    ):
        """``track_sumsq`` additionally maintains Σx² per sum column
        (exact DECIMAL, same ⊕ algebra — squares are self-maintainable
        exactly like sums), which lets :meth:`stats` serve AVG / VAR /
        STDDEV from the view. Moments are the classic trick for making
        non-distributive aggregates incrementally maintainable; the
        catastrophic-cancellation caveat of the Σx²-Σx²/n form applies
        as it does to every moments-based variance."""
        self.spark = spark
        self.source = source
        self.view = TransactionalTable(spark, root)
        self.group_keys = list(group_keys)
        self.sum_cols = list(sum_cols)
        self.track_sumsq = track_sumsq

    # ------------------------------------------------------------------
    def last_refreshed_source_version(self) -> int | None:
        v = self.view.latest_version()
        if v is None:
            return None
        led = self.view._read_manifest(v).txns or {}
        return led.get(self.LEDGER_APP)

    def _state_aggs(self) -> list:
        aggs = [F.sum("__cnt").cast("long").alias("n_rows")]
        for c in self.sum_cols:
            aggs.append(F.sum(f"__s_{c}").cast(_DEC).alias(f"sum_{c}"))
            aggs.append(F.sum(f"__nn_{c}").cast("long").alias(f"nn_{c}"))
            if self.track_sumsq:
                aggs.append(
                    F.sum(f"__ss_{c}").cast(_DEC_SQ).alias(f"ss_{c}")
                )
        return aggs

    def _contrib(self, rows: DataFrame, delta_col) -> DataFrame:
        """Per-row contribution terms: signed count, signed exact-decimal
        value (0 for NULL — the nn counter carries nullability), signed
        non-null indicator."""
        cols = [F.col(g) for g in self.group_keys]
        cols.append(delta_col.cast("long").alias("__cnt"))
        for c in self.sum_cols:
            v = F.col(c).cast("decimal(24,4)")
            cols.append(
                (F.coalesce(v, F.lit(0).cast("decimal(24,4)")) * delta_col)
                .cast(_DEC)
                .alias(f"__s_{c}")
            )
            cols.append(
                F.when(v.isNotNull(), delta_col.cast("long"))
                .otherwise(F.lit(0))
                .alias(f"__nn_{c}")
            )
            if self.track_sumsq:
                # decimal(18,4) squares to (37,8): exact in both engines
                # (a (24,4) square would overflow DECIMAL's 38-digit cap)
                v18 = F.col(c).cast("decimal(18,4)")
                sq = F.coalesce(
                    v18 * v18, F.lit(0).cast("decimal(37,8)")
                )
                cols.append((sq * delta_col).cast(_DEC_SQ).alias(f"__ss_{c}"))
        return rows.select(*cols)

    def _full_state(self, src_version: int) -> DataFrame:
        rows = self.source.read(src_version)
        return self._contrib(rows, F.lit(1)).groupBy(*self.group_keys).agg(
            *self._state_aggs()
        )

    def _delta_state(self, v_from: int, v_to: int) -> DataFrame:
        d = self.source.row_deltas(v_from, v_to)
        return self._contrib(d, F.col("__delta")).groupBy(
            *self.group_keys
        ).agg(*self._state_aggs())

    def _merge_state(self, old: DataFrame, delta: DataFrame) -> DataFrame:
        """old ⊕ delta: full-outer on the group keys (null-safe — NULL is
        a group), component-wise addition, drop groups whose row count
        reaches zero. The join is view-sized, never base-sized."""
        a = old.select(
            *[F.col(g).alias(f"__ga_{g}") for g in self.group_keys],
            *[F.col(c).alias(f"__a_{c}") for c in self._val_cols()],
        )
        b = delta.select(
            *[F.col(g).alias(f"__gb_{g}") for g in self.group_keys],
            *[F.col(c).alias(f"__b_{c}") for c in self._val_cols()],
        )
        cond = None
        for g in self.group_keys:
            c = F.col(f"__ga_{g}").eqNullSafe(F.col(f"__gb_{g}"))
            cond = c if cond is None else (cond & c)
        in_a = F.lit(False)
        for c in self._val_cols():
            in_a = in_a | F.col(f"__a_{c}").isNotNull()
        j = a.join(b, cond, "full_outer")

        def add(c: str, cast: str):
            zero = F.lit(0).cast(cast)
            return (
                F.coalesce(F.col(f"__a_{c}"), zero)
                + F.coalesce(F.col(f"__b_{c}"), zero)
            ).cast(cast)

        out_cols = [
            F.when(in_a, F.col(f"__ga_{g}"))
            .otherwise(F.col(f"__gb_{g}"))
            .alias(g)
            for g in self.group_keys
        ]
        out_cols.append(add("n_rows", "long").alias("n_rows"))
        for c in self.sum_cols:
            out_cols.append(add(f"sum_{c}", _DEC).alias(f"sum_{c}"))
            out_cols.append(add(f"nn_{c}", "long").alias(f"nn_{c}"))
            if self.track_sumsq:
                out_cols.append(add(f"ss_{c}", _DEC_SQ).alias(f"ss_{c}"))
        return j.select(*out_cols).filter(F.col("n_rows") > 0)

    def _val_cols(self) -> list[str]:
        out = ["n_rows"]
        for c in self.sum_cols:
            out += [f"sum_{c}", f"nn_{c}"]
            if self.track_sumsq:
                out.append(f"ss_{c}")
        return out

    # ------------------------------------------------------------------
    def refresh(self, full: bool = False) -> int | None:
        """Advance the view to the source's latest snapshot. Returns the
        new view version, or None when already up to date (or when a
        replayed refresh finds its source version already in the ledger —
        the exactly-once path). A concurrent refresher losing the commit
        race gets :class:`~fefal_etl_spark.table.CommitConflict`; re-call
        to retry on the new state."""
        src_v = self.source.latest_version()
        if src_v is None:
            raise FileNotFoundError(
                f"source table {self.source.root} has no committed version"
            )
        last = self.last_refreshed_source_version()
        if last is not None and last >= src_v:
            return None
        base = self.view.latest_version()
        if full or last is None:
            state, op = self._full_state(src_v), "mv-init"
        else:
            delta = self._delta_state(last, src_v)
            state, op = self._merge_state(self.view.read(base), delta), "mv-incr"
        files = self.view.stage_files(state)
        return self.view._commit(
            files,
            op,
            base,
            rebase_ok=False,
            stats=self.view._file_stats(files),
            txn=(self.LEDGER_APP, src_v),
        )

    def stats(self, version: int | None = None) -> DataFrame:
        """Derived-statistics read (requires ``track_sumsq``): group
        keys, ``n_rows``, and per sum column ``mean_<c>`` and population
        variance ``var_<c>``, computed from the exact (Σx, Σx², n)
        moments — the view serves AVG/VAR/STDDEV without any base
        access. Expression shape is fixed (double division of the exact
        decimal carriers) so an external engine computing the same
        casts reproduces it bit-for-bit."""
        if not self.track_sumsq:
            raise ValueError("stats() requires track_sumsq=True")
        st = self.view.read(version)
        cols = [*self.group_keys, F.col("n_rows")]
        for c in self.sum_cols:
            n = F.col(f"nn_{c}").cast("double")
            s = F.col(f"sum_{c}").cast("double")
            ss = F.col(f"ss_{c}").cast("double")
            mean = s / n
            cols.append(
                F.when(F.col(f"nn_{c}") > 0, mean)
                .otherwise(F.lit(None))
                .alias(f"mean_{c}")
            )
            cols.append(
                F.when(F.col(f"nn_{c}") > 0, ss / n - (s / n) * (s / n))
                .otherwise(F.lit(None))
                .alias(f"var_{c}")
            )
        return st.select(*cols)

    def current(self, version: int | None = None) -> DataFrame:
        """User-facing view frame: group keys, ``n_rows``, and one
        ``sum_<c>`` per sum column with the SQL NULL convention restored
        (NULL when the group has no non-null values). ``version`` time-
        travels the VIEW's own refresh history."""
        st = self.view.read(version)
        cols = [*self.group_keys, F.col("n_rows")]
        for c in self.sum_cols:
            cols.append(
                F.when(F.col(f"nn_{c}") > 0, F.col(f"sum_{c}"))
                .otherwise(F.lit(None).cast(_DEC))
                .alias(f"sum_{c}")
            )
        return st.select(*cols)

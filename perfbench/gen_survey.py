"""Seeded generator for the ``survey_load`` workload: an entity registry
and yearly waves of a wide survey export, with the branch truth planted.

Each wave is one CSV with the five reference column groups
(identificação, formações, interesses with ``[comentario]`` siblings,
disponibilidade, tipo de ensino). Formation and interest columns slide by
a few names per wave, so every wave brings new dimension members as well
as new rows. Blank names, unmatched names, planted duplicates and garbage
cell values are drawn from the seed; :class:`WaveTruth` records the counts
a correct pipeline must produce.

Only numpy and the standard library are used: the generator never touches
the program under test.
"""

from __future__ import annotations

import csv
import os
from dataclasses import asdict, dataclass

import numpy as np

BASE_YEAR = 2020
N_MUNICIPIOS = 300
N_FREGUESIAS = 5700

ID_COLS = [
    "Nome da Entidade",
    "Tipo de Entidade",
    "Responsável",
    "Existe responsável?",
    "Percentagem preenchida",
    "Data de início",
    "Data de fim",
    "Data de submissão",
]
RENAME = {
    "Nome da Entidade": "nome_entidade",
    "Tipo de Entidade": "tipo_entidade",
    "Responsável": "nome_responsavel",
    "Existe responsável?": "existe_responsavel",
    "Percentagem preenchida": "percentagem_preenchido",
    "Data de início": "data_inicio",
    "Data de fim": "data_fim",
    "Data de submissão": "data_submissao",
}
ENTITY_TYPE_MAP = {
    "Município": "Municípios",
    "Municipio": "Municípios",
    "Freguesia": "Freguesias",
    "Junta": "Freguesias",
}
TIPOS_DISP = [(1, "Dias úteis"), (2, "Sábado"), (3, "Domingo"), (4, "Feriados")]
SLOTS = ["manhã [9h-12h]", "tarde [14h-18h]", "noite [19h-22h]"]
DISP_COLS = [f"{t} - {s}" for _i, t in TIPOS_DISP for s in SLOTS]
PREF_COLS = [
    f"Tipo de ensino {m}"
    for m in ("presencial", "online", "misto", "b-learning", "e-learning", "workshop")
]
N_FORMACOES = 20
N_INTERESSES = 14
SLIDE = 3  # formation/interest names replaced per wave

BAD_NAMES = ["nd", "N/A", "", "  sem dados ", "NaN", "Não definido"]
# (comment text, sentence count) — no quotes, so any CSV dialect reads them
COMMENTS = [
    ("Muito bom. Quero mais", 2),
    ("Excelente", 1),
    ("Gostei muito! Repetiria. Obrigado", 3),
    ("Falta tempo; talvez no próximo ano", 2),
]
NUMERIC_COMMENTS = [" 3 ", "12", "0.5"]


@dataclass(frozen=True)
class WaveTruth:
    """Counts a correct EP2+EP3 run over one wave must reproduce."""

    year: int
    rows: int
    valid: int
    duplicate: int
    unmatched: int
    blank_name: int
    fact_inquerito: int
    fact_resposta_formacao: int
    fact_resposta_interesse: int
    comentario: int
    fact_resposta_preferencia: int
    fact_resposta_disponibilidade: int
    formacoes: tuple[str, ...]

    def to_json(self) -> dict:
        return asdict(self)


def registry_rows() -> list[tuple[int, str, str]]:
    """(id_entidades, ent_nome, ent_tipo) — fixed, seed independent."""
    rows = [(i + 1, f"Cidade {i + 1}", "Municípios") for i in range(N_MUNICIPIOS)]
    rows += [
        (N_MUNICIPIOS + i + 1, f"Aldeia {i + 1}", "Freguesias")
        for i in range(N_FREGUESIAS)
    ]
    return rows


def wave_columns(wave: int) -> tuple[list[str], list[str], list[str]]:
    """(formation headers, interest value headers, all interest headers)."""
    f0 = wave * SLIDE
    form = [f"Quantos formandos? [Formação {k}]" for k in range(f0, f0 + N_FORMACOES)]
    vals = [f"Interesse [Área {k}]" for k in range(f0, f0 + N_INTERESSES)]
    ints: list[str] = []
    for v in vals:
        ints += [v, f"{v}[comentario]"]
    return form, vals, ints


def config_groups(wave: int) -> dict[str, tuple[int, int]]:
    """1-based inclusive column ranges of each group in a wave's CSV."""
    form, _vals, ints = wave_columns(wave)
    spans = [
        ("identificacao", len(ID_COLS)),
        ("formacoes", len(form)),
        ("interesses", len(ints)),
        ("disponibilidade", len(DISP_COLS)),
        ("tipo de ensino", len(PREF_COLS)),
    ]
    out, start = {}, 1
    for name, n in spans:
        out[name] = (start, start + n - 1)
        start += n
    return out


def _entity_name(rng: np.random.Generator, ent_id: int) -> tuple[str, str]:
    """Survey-side spelling of a registry entity: prefixes, accents, case
    and padding vary; the type uses the survey vocabulary."""
    if ent_id <= N_MUNICIPIOS:
        base = f"Cidade {ent_id}"
        pre = ["Município de ", "Câmara Municipal de ", "CM ", "municipio do ", ""]
        tipo = ["Município", "Municipio"]
    else:
        base = f"Aldeia {ent_id - N_MUNICIPIOS}"
        pre = ["Junta de Freguesia de ", "Freguesia de ", "União de Freguesias de ", ""]
        tipo = ["Freguesia", "Junta"]
    name = pre[rng.integers(len(pre))] + base
    if rng.random() < 0.2:
        name = f"  {name.upper()} "
    return name, tipo[rng.integers(len(tipo))]


def _answers(rng: np.random.Generator, n_form: int, n_int: int) -> dict:
    """One respondent's answer block (shared verbatim by planted copies)."""
    form = []
    for _ in range(n_form):
        r = rng.random()
        if r < 0.05:
            form.append(["abc", "-3", "", "1e400"][rng.integers(4)])
        else:
            form.append(str(int(rng.integers(0, 40))))
    vals, comments, n_sim, n_sent = [], [], 0, 0
    for _ in range(n_int):
        r = rng.random()
        if r < 0.35:
            vals.append(["Sim", "sim  ", "SIM"][rng.integers(3)])
            n_sim += 1
            is_sim = True
        else:
            vals.append(["Não", "nao", "", "talvez"][rng.integers(4)])
            is_sim = False
        c = rng.random()
        if c < 0.15:
            text, n = COMMENTS[rng.integers(len(COMMENTS))]
            comments.append(text)
            n_sent += n if is_sim else 0
        elif c < 0.25:
            comments.append(NUMERIC_COMMENTS[rng.integers(len(NUMERIC_COMMENTS))])
        else:
            comments.append("")
    disp = [["Sim", "Não", "talvez", ""][rng.integers(4)] for _ in DISP_COLS]
    pref, n_pref = [], 0
    for _ in PREF_COLS:
        r = rng.random()
        if r < 0.1:
            pref.append("x")
        elif r < 0.2:
            pref.append("")
        else:
            pref.append(str(int(rng.integers(0, 5))))
            n_pref += 1
    return {
        "form": form,
        "vals": vals,
        "comments": comments,
        "disp": disp,
        "pref": pref,
        "n_sim": n_sim,
        "n_sent": n_sent,
        "n_pref": n_pref,
    }


def write_wave(path: str, seed: int, wave: int, rows: int) -> WaveTruth:
    """Write one wave's CSV to ``path`` and return its planted truth.

    Row mix: 3% blank names, 5% unmatched names, 8% planted duplicates
    (a lower-percentage copy of a matched respondent), the rest distinct
    registry entities."""
    rng = np.random.default_rng([seed, wave])
    form_cols, val_cols, int_cols = wave_columns(wave)
    n_blank = rows * 3 // 100
    n_unmatched = rows * 5 // 100
    n_dup = rows * 8 // 100
    n_matched = rows - n_blank - n_unmatched - n_dup
    ents = rng.choice(N_MUNICIPIOS + N_FREGUESIAS, size=n_matched, replace=False) + 1
    year = BASE_YEAR + wave

    def ident(name, tipo, pct):
        day = int(rng.integers(1, 28))
        start_h = int(rng.integers(8, 18))
        dur = int(rng.integers(5, 90))
        inicio = f"{year}-03-{day:02d} {start_h:02d}:00:00"
        fim = f"{year}-03-{day:02d} {start_h + dur // 60:02d}:{dur % 60:02d}:00"
        if rng.random() < 0.03:
            fim = "31/02/2024"  # garbage date → NULL duration
        resp = f"Pessoa {int(rng.integers(100000))}"
        existe = ["Sim", "Não", "talvez"][rng.integers(3)]
        return [name, tipo, resp, existe, pct, inicio, fim, ""]

    def pct_value():
        r = rng.random()
        if r < 0.03:
            return "n/a"
        return str(int(rng.integers(50, 101)))

    records: list[list[str]] = []
    n_sim = n_sent = n_pref_cells = 0
    matched_rows = []
    for ent in ents:
        name, tipo = _entity_name(rng, int(ent))
        ans = _answers(rng, len(form_cols), len(val_cols))
        row = ident(name, tipo, pct_value())
        matched_rows.append((row, ans))
        n_sim += ans["n_sim"]
        n_sent += ans["n_sent"]
        n_pref_cells += ans["n_pref"]
    for i in rng.choice(n_matched, size=n_dup, replace=False):
        row, ans = matched_rows[i]
        dup = list(row)
        dup[4] = str(int(rng.integers(0, 50)))
        matched_rows.append((dup, ans))
    other = []
    for _ in range(n_unmatched):
        name = f"Entidade Fantasma {int(rng.integers(10**6))}"
        other.append((ident(name, "Município", pct_value()), _answers(rng, len(form_cols), len(val_cols))))
    for _ in range(n_blank):
        name = BAD_NAMES[rng.integers(len(BAD_NAMES))]
        other.append((ident(name, "Freguesia", pct_value()), _answers(rng, len(form_cols), len(val_cols))))
    for row, ans in matched_rows + other:
        inter = []
        for v, c in zip(ans["vals"], ans["comments"]):
            inter += [v, c]
        records.append(row + ans["form"] + inter + ans["disp"] + ans["pref"])
    order = rng.permutation(len(records))

    header = ID_COLS + form_cols + int_cols + DISP_COLS + PREF_COLS
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for i in order:
            w.writerow(records[i])

    valid = n_matched
    return WaveTruth(
        year=year,
        rows=rows,
        valid=valid,
        duplicate=n_dup,
        unmatched=n_unmatched,
        blank_name=n_blank,
        fact_inquerito=valid,
        fact_resposta_formacao=valid * len(form_cols),
        fact_resposta_interesse=n_sim,
        comentario=n_sent,
        fact_resposta_preferencia=n_pref_cells,
        fact_resposta_disponibilidade=valid * len(DISP_COLS),
        formacoes=tuple(sorted({f"formacao {k}" for k in range(wave * SLIDE, wave * SLIDE + N_FORMACOES)})),
    )

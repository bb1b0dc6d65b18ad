"""P1–P13: text predicates and OCR-confusion normalization.

Everything here is a pure column expression (JVM-side, whole-stage-codegen
friendly) — the reference's scattered per-line Python string surgery
(api/util.py:1741, 1581-1620, 1095-1110, 1385-1390, 2337; util/ocr_pdf.py:
1390, 1421) collapses into one chained ``regexp_replace`` stage.

The rule list is rendered into three dialects so the synthetic-corpus
generator (Python ``re``), the engine (Spark/Java regex) and the DuckDB
oracle (RE2) apply *identical* semantics. Patterns deliberately avoid
lookarounds (RE2 has none) and keep backreferences unambiguous in all
three replacement syntaxes.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P6 — OCR-confusion normalization rules.
# (pattern, replacement) with <n> group placeholders; applied in order.
# Mirrors reference repairs: AOOE→AO06 (api/util.py:1741), digit-O and
# digit-q confusions (1581-1620, 1095-1110), AKRZ→AKZ (1714),
# month names→numbers (1385-1390), stray ' ,'→',' (2337).
# ---------------------------------------------------------------------------

CORE_RULES: list[tuple[str, str]] = [
    (r"AOOE|AOO6|A006|AO0E", "AO06"),            # IBAN country prefix repairs
    (r"AKRZ|AKZZ", "AKZ"),                        # currency token
    (r"(\d)[qQoO](\d)", "<1>0<2>"),              # 2q22/2O22 → 2022 (one pass)
    (r"(\d)[lI](\d)", "<1>1<2>"),                # digit-l/I-digit → 1
    (r"(\d)[sS](\d)", "<1>5<2>"),                # digit-S-digit → 5
    (r" ,", ","),                                 # stray space before comma
]

# month-name→number repairs only fire on lines that mention a month, so the
# 12 replace passes hide behind ONE rlike scan (the OCR stage pushes ~10^7
# lines per executor through this chain — pass count is the cost driver)
MONTH_RULES: list[tuple[str, str]] = [
    (r"JANEIRO", "01"), (r"FEVEREIRO", "02"), (r"MARÇO", "03"),
    (r"ABRIL", "04"), (r"MAIO", "05"), (r"JUNHO", "06"),
    (r"JULHO", "07"), (r"AGOSTO", "08"), (r"SETEMBRO", "09"),
    (r"OUTUBRO", "10"), (r"NOVEMBRO", "11"), (r"DEZEMBRO", "12"),
]

MONTHS_RE = "|".join(p for p, _ in MONTH_RULES)


def _render(repl: str, dialect: str) -> str:
    """Render ``<n>`` placeholders for a regex-replacement dialect."""
    if dialect == "python":
        return re.sub(r"<(\d)>", r"\\g<\1>", repl)
    if dialect == "java":  # Spark regexp_replace
        return re.sub(r"<(\d)>", r"$\1", repl)
    if dialect == "re2":  # DuckDB regexp_replace
        return re.sub(r"<(\d)>", r"\\\1", repl)
    raise ValueError(dialect)


_MONTHS_PY = re.compile(MONTHS_RE)


def normalize_py(s: str) -> str:
    """Reference implementation for the corpus generator and unit tests."""
    for pat, repl in CORE_RULES:
        s = re.sub(pat, _render(repl, "python"), s)
    if _MONTHS_PY.search(s):
        for pat, repl in MONTH_RULES:
            s = re.sub(pat, _render(repl, "python"), s)
    return s


def normalize_col(col: Column) -> Column:
    """Spark column expression: the whole P6 chain, JVM-side."""
    out = col
    for pat, repl in CORE_RULES:
        out = F.regexp_replace(out, pat, _render(repl, "java"))
    months = out
    for pat, repl in MONTH_RULES:
        months = F.regexp_replace(months, pat, _render(repl, "java"))
    return F.when(out.rlike(MONTHS_RE), months).otherwise(out)


def normalize_sql(expr: str) -> str:
    """DuckDB SQL string applying the same chain (for oracle queries)."""
    out = expr
    for pat, repl in CORE_RULES:
        p = pat.replace("'", "''")
        r = _render(repl, "re2").replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    months = out
    for pat, repl in MONTH_RULES:
        p = pat.replace("'", "''")
        r = _render(repl, "re2").replace("'", "''")
        months = f"regexp_replace({months}, '{p}', '{r}', 'g')"
    return (f"CASE WHEN regexp_matches({out}, '{MONTHS_RE}') "
            f"THEN {months} ELSE {out} END")


# ---------------------------------------------------------------------------
# P1–P5, P9 — predicate regexes (reference api/util.py:855-861, 256, 172-179)
# Kept in the Java∩RE2∩Python common subset so oracles can share them.
# ---------------------------------------------------------------------------

CASH_RE = r"\d{1,3}([. ]\d{3})*,\d{2}|\d{1,3}(,\d{3})*\.\d{2}"
DATE_RE = r"\d{4}/\d{2}/\d{2}|\d{2}-\d{2}-\d{4}"
IBAN_RE = r"AO06(\.\d{2,4}){5}\.\d{1,2}|AO06( ?\d{4}){5} ?\d"
SERIES_RE = r"(FT|FR|PP|FTM)[ /][A-Z0-9]+[ /]?\d{2,4}/\d+"
AVOID_RE = (
    r"ORIGINAL|2!VIA|2ªVIA|2º ?VIA|DUPLICADO|TELEF\.|"
    r"[A-Z0-9._%+-]+@[A-Z0-9.-]+\.[A-Z]{2,}|"
    r"P[ÁA]GINA \d+|PROCESSADO POR PROGRAMA VALIDADO|AMOUNT IN WORDS"
)


def iban_regroup_col(col: Column) -> Column:
    """P7 (api/util.py:1746-1757): split on '.', left-pad 2–3 digit groups
    to 4 with '0', rejoin — pure higher-order functions, no UDF."""
    return F.array_join(
        F.transform(F.split(col, r"\."), lambda x: F.lpad(x, 4, "0")), "."
    )


def iban_regroup_sql(expr: str) -> str:
    return (
        f"array_to_string(list_transform(string_split({expr}, '.'),"
        f" x -> lpad(x, 4, '0')), '.')"
    )


INT_TOKEN_RE = r"^\d+$"


def length_class_col(col: Column) -> Column:
    """P11 (api/util.py:1641-1669, 1906, 2363-2376, 2043): length/numeric
    token heuristics — len==10 → NIF, len 14/15 → account number,
    len==9 → operation number, 'REG'+12 digits (len 15) → declaration id.
    Pure expressions; regex numeric test (no ANSI-mode cast traps)."""
    is_num = col.rlike(INT_TOKEN_RE)
    n = F.length(col)
    return (
        F.when(is_num & (n == 10), F.lit("nif"))
        .when(is_num & ((n == 14) | (n == 15)), F.lit("account"))
        .when(is_num & (n == 9), F.lit("operation"))
        .when(col.startswith("REG") & (n == 15), F.lit("declaration"))
        .otherwise(F.lit("other"))
    )


def tokenize_col(col: Column) -> Column:
    """P8 (ocr_read.py:23-30): strip non-word chars, split to word array."""
    return F.split(F.trim(F.regexp_replace(col, r"\W+", " ")), " ")

"""Scalar expression library (reference functions F1-F18, SURVEY.md §2.8).

Every row-wise Python function of the reference is re-expressed as a native
Spark expression so it runs JVM-side inside whole-stage codegen — the
reference's `.apply(python_fn)` row loops (its main CPU bottleneck,
reference unified_transformer.py:308-501) disappear entirely.

Most functions are SQL-text builders (`<name>_sql`): each takes a SQL
expression STRING (a name quoted with `_sql_ident`, or text composed by
the caller) and returns SQL text that the caller parses with ONE `F.expr`
call. The Column API crosses py4j once per expression node; at the
94-column pipeline's breadth that cost seconds of driver latency on every
plan construction (PERF.md round 7: 8.03 -> 2.30 s once the refresh
composed SQL text). F13, F15, F16 and F18 are off that path and stay
Column builders.

A builder whose result references one non-cheap subexpression several
times takes an optional `let` binder and wraps that subexpression in it.
The default binder returns the text unchanged, so the result is one SQL
expression; `operators.conform.Bindings` instead stages each bound
subexpression as its own column, so the refresh evaluates it once per row
and compiles it once (see `conform.Bindings`).

Semantics are pinned to the reference implementation (file:line cited per
function). Where the reference's docstring and code disagree, the docstring
(= the published contract, mirrored in FIXTURES.md golden vectors) wins and
the divergence is noted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Placeholder literals the reference maps to empty string before joining
# (reference unified_transformer.py:218-234). Lowercased match.
PLACEHOLDERS = ("", "nan", "none", "<na>", "null", "nat")

FLIGHT_NUMBER_RE = r"^[A-Z0-9]{2}\d{3,4}$"


def _s(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _trimmed_sql(x: str) -> str:
    return f"trim(cast({x} AS STRING))"


def _inline(sql: str) -> str:
    """The default `let`: a bound subexpression stays inline."""
    return sql


# ---------------------------------------------------------------- F1
def airline_code_sql(x: str) -> str:
    """F1 — leading alphabetic prefix of a flight number, uppercased;
    '' when unparseable/null. Reference unified_transformer.py:13-31
    ("HX261" -> "HX", None -> "")."""
    return f"coalesce(upper(regexp_extract({x}, '^([A-Za-z]+)', 1)), '')"


# ---------------------------------------------------------------- F2
def to_time_hhmm_sql(x: str, let=_inline) -> str:
    """F2 — normalize a time-ish string to 'HH:MM'.

    Order of attempts mirrors reference unified_transformer.py:33-74:
    full datetime formats, then a bare H:MM, then the first H:MM found
    anywhere in the string, else ''. ("2025-11-05 19:20:00" -> "19:20",
    "0 days 19:20:00" -> "19:20", "9:05" -> "09:05").
    """
    s = let(_trimmed_sql(x))
    ts = let(
        f"coalesce(try_to_timestamp({s}, 'yyyy-M-d H:m:s'), "
        f"try_to_timestamp({s}, 'yyyy/M/d H:m'), "
        f"try_to_timestamp({s}, 'yyyy-M-d H:m'))"
    )
    bare = f"regexp_extract({s}, '^(\\\\d{{1,2}}):(\\\\d{{2}})$', 0)"
    bare1 = f"regexp_extract({s}, '^(\\\\d{{1,2}}):(\\\\d{{2}})$', 1)"
    bare2 = f"regexp_extract({s}, '^(\\\\d{{1,2}}):(\\\\d{{2}})$', 2)"
    any1 = let(f"regexp_extract({s}, '(\\\\d{{1,2}}):(\\\\d{{2}})', 1)")
    any2 = f"regexp_extract({s}, '(\\\\d{{1,2}}):(\\\\d{{2}})', 2)"
    return (
        f"CASE WHEN {s} IS NULL OR {s} = '' THEN '' "
        f"WHEN {ts} IS NOT NULL THEN date_format({ts}, 'HH:mm') "
        f"WHEN {bare} != '' THEN concat(lpad({bare1}, 2, '0'), ':', {bare2}) "
        f"WHEN {any1} != '' THEN concat(lpad({any1}, 2, '0'), ':', {any2}) "
        f"ELSE '' END"
    )


# ---------------------------------------------------------------- F3
def duration_to_minutes_sql(x: str, let=_inline) -> str:
    """F3 — '[D days ]HH:MM[:SS]' -> total minutes (int), seconds >= 30
    round up one minute; digit-only strings are already minutes; else null.
    Reference unified_transformer.py:76-113 ("0 days 02:05:00" -> 125,
    "01:30:30" -> 91, "95" -> 95).
    """
    s = let(_trimmed_sql(x))
    pat = "'(?:(\\\\d+)\\\\s*days\\\\s*)?(\\\\d{1,2}):(\\\\d{2})(?::(\\\\d{2}))?'"
    g1 = f"regexp_extract({s}, {pat}, 1)"
    g2 = let(f"regexp_extract({s}, {pat}, 2)")
    g3 = f"regexp_extract({s}, {pat}, 3)"
    g4 = f"regexp_extract({s}, {pat}, 4)"
    days = f"coalesce(CAST(nullif({g1}, '') AS INT), 0)"
    secs = f"coalesce(CAST(nullif({g4}, '') AS INT), 0)"
    total = (
        f"{days} * 1440 + CAST({g2} AS INT) * 60 + CAST({g3} AS INT)"
        f" + (CASE WHEN {secs} >= 30 THEN 1 ELSE 0 END)"
    )
    # group 2 (hours) is mandatory in the pattern => '' means "no match"
    return (
        f"CASE WHEN {g2} != '' THEN {total} "
        f"WHEN {s} RLIKE '^\\\\d+$' THEN CAST({s} AS INT) "
        f"ELSE CAST(NULL AS INT) END"
    )


# ---------------------------------------------------------------- F4
def _luggage_number_sql(s: str) -> str:
    return f"regexp_extract({s}, '(\\\\d+(?:\\\\.\\\\d+)?)', 1)"


def luggage_value_sql(x: str, let=_inline) -> str:
    """F4a — first decimal number in a luggage string, as double; null when
    absent. Reference cola_transformer.py:87-119 / unified_transformer.py:115-147
    ("1件" -> 1.0, "25 公斤" -> 25.0, "無" -> null)."""
    n = let(_luggage_number_sql(let(_trimmed_sql(x))))
    return f"CASE WHEN {n} != '' THEN CAST({n} AS DOUBLE) END"


def luggage_unit_sql(x: str, let=_inline) -> str:
    """F4b — unit: digits/whitespace/dots stripped, then normalized
    (contains 件 -> 件; contains 公斤/kg/KG/Kg -> 公斤). Per the reference
    docstring contract (FIXTURES.md A.7) an unrecognized unit with no
    number yields '' ("無" -> ''); with a number the raw residue is kept
    (code behavior, reference unified_transformer.py:139-146)."""
    s = let(_trimmed_sql(x))
    raw = let(f"regexp_replace({s}, '[\\\\d\\\\s\\\\.]+', '')")
    num = let(_luggage_number_sql(s))
    unit = (
        f"CASE WHEN contains({raw}, '件') THEN '件' "
        f"WHEN contains({raw}, '公斤') OR contains({raw}, 'kg') "
        f"OR contains({raw}, 'KG') OR contains({raw}, 'Kg') THEN '公斤' "
        f"ELSE CASE WHEN {num} != '' THEN {raw} ELSE '' END END"
    )
    return f"CASE WHEN {s} IS NULL OR {s} = '' THEN '' ELSE {unit} END"


# ---------------------------------------------------------------- F5
def luggage_reassemble_sql(x: str, let=_inline) -> str:
    """F5 — '<number><unit>' with integer-valued floats printed as ints
    ('1件', '25公斤'); number-only -> str(number); no number -> ''.
    Reference cola_transformer.py:247-269."""
    v = let(luggage_value_sql(x, let))
    u = let(luggage_unit_sql(x, let))
    n_str = let(
        f"CASE WHEN {v} = floor({v}) THEN CAST(CAST({v} AS BIGINT) AS STRING) "
        f"ELSE CAST({v} AS STRING) END"
    )
    return (
        f"CASE WHEN {v} IS NOT NULL AND {u} != '' THEN concat({n_str}, {u}) "
        f"WHEN {v} IS NOT NULL THEN {n_str} ELSE '' END"
    )


# ---------------------------------------------------------------- F6
def to_date_yyyy_mm_dd_sql(x: str, let=_inline) -> str:
    """F6 — parse several datetime shapes to 'YYYY/MM/DD'; '' when
    unparseable. Reference cola_transformer.py:50-85
    ("2025-11-05 19:20:00" -> "2025/11/05"). The format-less
    try_to_timestamp is the ISO-ish fallback (the reference uses
    pd.to_datetime), except for a bare time ('9:05', 'T01:30:30'): Spark
    and pandas both date that with the wall clock's today, so it yields ''
    — no hidden clock in a pure function (SURVEY.md Q4)."""
    s = let(_trimmed_sql(x))
    ts = let(
        f"coalesce(try_to_timestamp({s}, 'yyyy-M-d H:m:s'), "
        f"try_to_timestamp({s}, 'yyyy-M-d'), "
        f"try_to_timestamp({s}, 'yyyy/M/d H:m'), "
        f"try_to_timestamp({s}, 'yyyy/M/d'), "
        f"CASE WHEN {s} NOT RLIKE '^T?\\\\d{{1,2}}:' THEN try_to_timestamp({s}) END)"
    )
    return (
        f"CASE WHEN {ts} IS NOT NULL THEN date_format({ts}, 'yyyy/MM/dd') "
        f"ELSE '' END"
    )


# ---------------------------------------------------------------- F7
def date_to_mm_dd_slice_sql(x: str) -> str:
    """F7 — chars 6..10 of 'YYYY-MM-DD...' with '-' -> '/'
    (positional slice, NOT a parse — parity with
    reference set_transformer.py:60-66 `.str.slice(5,10)`)."""
    return f"regexp_replace(substring({x}, 6, 5), '-', '/')"


# ---------------------------------------------------------------- F8
def year_prefix_sql(x: str) -> str:
    """F8 — token before the first '-' (the year of a 'YYYY-MM-DD...'
    string; the whole string when no '-' — a reference quirk kept as-is,
    SURVEY.md Q9). Reference cola_transformer.py:224,228."""
    return f"split({x}, '-')[0]"


# ---------------------------------------------------------------- F9
def attach_year_sql(y: str, mmdd: str) -> str:
    """F9 — 'YYYY' + '/' + 'MM/DD'; null-propagating (pandas NaN + str = NaN,
    so concat — which nulls on any null — is the correct mapping, not
    concat_ws). Reference unified_transformer.py:518-537."""
    return f"concat({y}, '/', {mmdd})"


# ---------------------------------------------------------------- F10
def canonical_flight_number_sql(x: str, let=_inline) -> str:
    """F10 — trim, strip ALL whitespace, uppercase, zero-pad the numeric
    tail of 2-letter/digit prefixed flight numbers: CI73 -> CI073,
    CI7 -> CI007. Nulls -> ''. Reference set_transformer.py:85-92."""
    # No `$n`/`${name}` replacement references here: the SQL parser's
    # variable substitution eats `${...}` (yields ''), so the zero-padding
    # is expressed as CASE + substring. The two 4/3-char patterns are
    # mutually exclusive, so their CASE order does not matter.
    s = let(f"upper(regexp_replace(trim(coalesce(cast({x} AS STRING), '')), '\\\\s+', ''))")
    return (
        f"CASE WHEN {s} RLIKE '^[A-Z0-9]{{2}}\\\\d{{2}}$' "
        f"THEN concat(substring({s}, 1, 2), '0', substring({s}, 3, 2)) "
        f"WHEN {s} RLIKE '^[A-Z0-9]{{2}}\\\\d{{1}}$' "
        f"THEN concat(substring({s}, 1, 2), '00', substring({s}, 3, 1)) "
        f"ELSE {s} END"
    )


def invalid_flight_row_sql(names: list[str]) -> str:
    """P4 — true when ANY non-empty flight-number column (by name) fails
    ^[A-Z0-9]{2}\\d{3,4}$ (row is then removed). Runs AFTER F10 padding.
    Reference set_transformer.py:94-110."""
    # Backslashes in the Python-side regex must be doubled to survive the
    # SQL string-literal parse ('\d' in a SQL literal parses to 'd').
    pat = FLIGHT_NUMBER_RE.replace("\\", "\\\\")
    parts = []
    for name in names:
        s = f"coalesce(cast({_sql_ident(name)} AS STRING), '')"
        parts.append(f"({s} != '' AND {s} NOT RLIKE '{pat}')")
    return " OR ".join(parts)


# ---------------------------------------------------------------- F11
def despace_sql(x: str) -> str:
    """F11 — remove literal spaces (cabin-class cleanup,
    reference cola_transformer.py:232-245)."""
    return f"regexp_replace({x}, ' ', '')"


# ---------------------------------------------------------------- F12
def first_token_sql(x: str) -> str:
    """F12 — token before the first whitespace run, null -> '' first
    (airport-code extraction, reference unified_transformer.py:314-338)."""
    return f"split(trim(coalesce(cast({x} AS STRING), '')), '\\\\s+')[0]"


# ---------------------------------------------------------------- F13
def split_flight_and_class(c: Column | str) -> tuple[Column, Column]:
    """F13 — split 'CI073 K' into (flight, class) on the first space,
    flight trimmed. Declared-but-dead surface in the reference
    (cola_transformer.py:170-201, SURVEY.md Q8) — implemented for parity."""
    parts = F.split(_s(c), " ", 2)
    # F.get (not getItem): ANSI mode errors on out-of-bounds index when the
    # value has no class suffix
    return F.trim(F.get(parts, 0)), F.get(parts, 1)


# ---------------------------------------------------------------- F14
def guarded_to_long_sql(x: str) -> str:
    """F14 — finite numbers truncate to integers; null stays null.
    (Reference keeps inf/NaN as-is in an object column,
    unified_transformer.py:475-487; Spark maps non-finite to null —
    a typed-column simplification, SURVEY.md §1.2.)"""
    return (
        f"CASE WHEN {x} IS NOT NULL AND NOT isnan({x}) "
        f"AND abs({x}) != CAST('Infinity' AS DOUBLE) "
        f"THEN CAST({x} AS BIGINT) END"
    )


# ---------------------------------------------------------------- F15
def placeholder_to_empty(c: Column | str) -> Column:
    """F15 — lowercase match against {'', 'nan', 'none', '<na>', 'null',
    'nat'} -> ''; nulls too (pandas astype(str) turns NaN/None into
    'nan'/'None' which then match). Reference unified_transformer.py:218-234."""
    s = F.coalesce(_s(c).cast("string"), F.lit(""))
    return F.when(F.lower(s).isin(*PLACEHOLDERS), F.lit("")).otherwise(s)


# ---------------------------------------------------------------- F16
def collapse_whitespace(c: Column | str) -> Column:
    """F16 — internal whitespace runs -> single space.
    Reference unified_transformer.py:232."""
    return F.regexp_replace(_s(c), r"\s+", " ")


# ---------------------------------------------------------------- F17
def normalize_join_date_sql(inner: str, let=_inline) -> str:
    """F17 — canonicalize a date-ish join key to 'MM/DD':
    '.'/'-' -> '/', strip leading 'YYYY/' or trailing '/YYYY', zero-pad
    M/D, validate by parsing MM/dd — unparseable values pass through
    UNCHANGED (the reference's keep-original rule,
    unified_transformer.py:244-257).

    The stripped value is read three times and the zero-padded one twice;
    inline, the padded CASE repeats the whole regex chain about ten
    times, so multi-key normalization binds both with `let`
    (joins.normalize_join_keys does). The result is never NULL when
    `inner` is not: no join-key null check is inferred over it."""
    s = (
        "trim(regexp_replace(regexp_replace("
        f"cast(({inner}) AS STRING), '\\\\.', '/'), '-', '/'))"
    )
    s = f"regexp_replace({s}, '^\\\\s*\\\\d{{4}}\\\\s*/', '')"
    s = let(f"regexp_replace({s}, '/\\\\s*\\\\d{{4}}\\\\s*$', '')")
    pat = "'^\\\\s*(\\\\d{1,2})\\\\s*/\\\\s*(\\\\d{1,2})\\\\s*$'"
    m = let(f"regexp_extract({s}, {pat}, 1)")
    d = f"regexp_extract({s}, {pat}, 2)"
    padded = let(
        f"CASE WHEN {m} != '' THEN "
        f"concat(lpad({m}, 2, '0'), '/', lpad({d}, 2, '0')) ELSE {s} END"
    )
    return f"coalesce(date_format(try_to_timestamp({padded}, 'MM/dd'), 'MM/dd'), {padded})"


# ---------------------------------------------------------------- F18
def epoch_now() -> Column:
    """F18 — current epoch seconds (reference time.time(),
    cola_transformer.py:297). Tests inject a frozen literal instead
    (SURVEY.md Q4)."""
    return F.unix_timestamp(F.current_timestamp()).cast("double")


# ---------------------------------------------------------------- J2
def normalize_join_key_sql(name: str, strip_all_whitespace: bool = False, let=_inline) -> str:
    """J2 — full join-key canonicalization chain over the column `name`:
    stringify, trim, collapse whitespace, placeholder -> '', uppercase;
    flight/cabin keys additionally drop ALL internal whitespace. Reference
    unified_transformer.py:216-243. Joining on '' (never NULL) is
    load-bearing: placeholder keys must match each other (SURVEY.md Q1)."""
    q = _sql_ident(name)
    s = let(f"regexp_replace(trim(coalesce(cast({q} AS STRING), '')), '\\\\s+', ' ')")
    placeholders = ", ".join(f"'{p}'" for p in PLACEHOLDERS)
    s = f"CASE WHEN lower({s}) IN ({placeholders}) THEN '' ELSE {s} END"
    s = f"upper({s})"
    if strip_all_whitespace:
        s = f"regexp_replace({s}, '\\\\s+', '')"
    return s

"""Golden-vector unit tests for the scalar expression library (F1-F17).

Vectors come from the reference's docstring examples (FIXTURES.md A.7) plus
edge cases pinned in SURVEY.md §2.8/§8. They run the `*_sql` forms, the
ones the refresh (plans/domanda.py, operators/joins.py) executes.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from domanda_etl_spark.functions import scalars as S


def run1(spark, sql_fn, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(F.expr(sql_fn("`v`")).alias("out")).collect()[0]["out"]


# ---- F1 airline code
@pytest.mark.parametrize(
    "inp,out",
    [("HX261", "HX"), (None, ""), ("CI073", "CI"), ("073", ""), ("", ""), ("ci73", "CI")],
)
def test_airline_code(spark, inp, out):
    assert run1(spark, S.airline_code_sql, inp) == out


# ---- F2 to_time_hhmm
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05 19:20:00", "19:20"),
        ("0 days 19:20:00", "19:20"),
        ("19:05", "19:05"),
        ("9:05", "09:05"),
        ("2025/11/05 07:45", "07:45"),
        ("2025-11-05 07:45", "07:45"),
        ("junk", ""),
        (None, ""),
        ("", ""),
    ],
)
def test_to_time_hhmm(spark, inp, out):
    assert run1(spark, S.to_time_hhmm_sql, inp) == out


# ---- F3 duration_to_minutes
@pytest.mark.parametrize(
    "inp,out",
    [
        ("0 days 02:05:00", 125),
        ("01:30:30", 91),
        ("01:30:29", 90),
        ("95", 95),
        ("2 days 01:00", 2940),
        ("junk", None),
        (None, None),
        ("", None),
    ],
)
def test_duration_to_minutes(spark, inp, out):
    assert run1(spark, S.duration_to_minutes_sql, inp) == out


# ---- F4 luggage split
@pytest.mark.parametrize(
    "inp,val,unit",
    [
        ("1件", 1.0, "件"),
        ("25 公斤", 25.0, "公斤"),
        ("30kg", 30.0, "公斤"),
        ("無", None, ""),
        (None, None, ""),
        ("2 件", 2.0, "件"),
        ("23.5公斤", 23.5, "公斤"),
    ],
)
def test_split_luggage(spark, inp, val, unit):
    assert run1(spark, S.luggage_value_sql, inp) == val
    assert run1(spark, S.luggage_unit_sql, inp) == unit


# ---- F5 luggage reassembly
@pytest.mark.parametrize(
    "inp,out",
    [("1件", "1件"), ("25 公斤", "25公斤"), ("23.5 kg", "23.5公斤"), ("無", ""), (None, "")],
)
def test_luggage_reassemble(spark, inp, out):
    assert run1(spark, S.luggage_reassemble_sql, inp) == out


# ---- F6 to YYYY/MM/DD
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05 19:20:00", "2025/11/05"),
        ("2025-11-05", "2025/11/05"),
        ("2025/11/05 19:20", "2025/11/05"),
        ("2025/11/05", "2025/11/05"),
        ("garbage", ""),
        (None, ""),
        ("9:05", ""),
        ("T01:30:30", ""),
    ],
)
def test_to_date(spark, inp, out):
    assert run1(spark, S.to_date_yyyy_mm_dd_sql, inp) == out


# ---- F7 MM/DD slice
@pytest.mark.parametrize(
    "inp,out",
    [("2025-11-05 19:20:00", "11/05"), ("2025-11-05", "11/05"), ("abc", ""), (None, None)],
)
def test_date_slice(spark, inp, out):
    assert run1(spark, S.date_to_mm_dd_slice_sql, inp) == out


# ---- F8/F9 year handling
def test_year_prefix_attach(spark):
    assert run1(spark, S.year_prefix_sql, "2025-11-05 19:20:00") == "2025"
    assert run1(spark, S.year_prefix_sql, "2025/11/05") == "2025/11/05"  # Q9 quirk
    df = spark.createDataFrame([("2025", "11/05"), (None, "11/05")], "y string, d string")
    rows = df.select(F.expr(S.attach_year_sql("`y`", "`d`")).alias("out")).collect()
    assert rows[0]["out"] == "2025/11/05"
    assert rows[1]["out"] is None  # null-propagating like pandas NaN + str


# ---- F10 flight canonicalization + P4 validity
@pytest.mark.parametrize(
    "inp,out",
    [
        ("CI73", "CI073"),
        ("CI7", "CI007"),
        (" ci 73 ", "CI073"),
        ("CI0731", "CI0731"),
        ("73123", "73123"),
        (None, ""),
        ("", ""),
    ],
)
def test_canonical_flight_number(spark, inp, out):
    assert run1(spark, S.canonical_flight_number_sql, inp) == out


def test_invalid_flight_row(spark):
    df = spark.createDataFrame(
        [("CI073", "BR0012"), ("CI073", "BAD!"), ("", ""), ("C7", "")],
        "a string, b string",
    )
    out = df.filter(F.expr(f"NOT ({S.invalid_flight_row_sql(['a', 'b'])})")).collect()
    assert [(r["a"], r["b"]) for r in out] == [("CI073", "BR0012"), ("", "")]


# ---- F12 first token
@pytest.mark.parametrize(
    "inp,out", [("TPE 桃園機場", "TPE"), ("  TPE  X", "TPE"), (None, ""), ("", "")]
)
def test_first_token(spark, inp, out):
    assert run1(spark, S.first_token_sql, inp) == out


# ---- F13 split flight+class
def test_split_flight_and_class(spark):
    df = spark.createDataFrame([("CI073 K",), ("BR16",)], "v string")
    fl, cl = S.split_flight_and_class("v")
    rows = df.select(fl.alias("f"), cl.alias("c")).collect()
    assert (rows[0]["f"], rows[0]["c"]) == ("CI073", "K")
    assert (rows[1]["f"], rows[1]["c"]) == ("BR16", None)


# ---- F14 guarded long
def test_guarded_to_long(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.7,), (-2.7,), (None,), (float("nan",),), (float("inf"),)], "v double"
    )
    out = [r["out"] for r in df.select(F.expr(S.guarded_to_long_sql("`v`")).alias("out")).collect()]
    assert out == [1, 2, -2, None, None, None]


# ---- F15/F16 placeholders + whitespace
@pytest.mark.parametrize(
    "inp,out",
    [("NaN", ""), ("<NA>", ""), ("null", ""), ("NaT", ""), ("ok", "ok"), (None, "")],
)
def test_placeholder(spark, inp, out):
    df = spark.createDataFrame([(inp,)], "v string")
    assert df.select(S.placeholder_to_empty("v").alias("out")).collect()[0]["out"] == out


# ---- F17 join-date normalization
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05", "11/05"),
        ("2025.11.05", "11/05"),
        ("11-5", "11/05"),
        ("1/5", "01/05"),
        ("11/05/2025", "11/05"),
        ("13/45", "13/45"),  # unparseable -> keep (padded) original
        ("TBD", "TBD"),
        ("", ""),
    ],
)
def test_normalize_join_date(spark, inp, out):
    assert run1(spark, S.normalize_join_date_sql, inp) == out


# ---- J2 full key normalization
@pytest.mark.parametrize(
    "inp,strip,out",
    [
        (" cx  450 ", True, "CX450"),
        (" cx  450 ", False, "CX 450"),
        ("nan", True, ""),
        (None, True, ""),
        ("<NA>", False, ""),
        ("經濟艙 K", True, "經濟艙K"),
    ],
)
def test_normalize_join_key(spark, inp, strip, out):
    sql_fn = lambda _: S.normalize_join_key_sql("v", strip_all_whitespace=strip)  # noqa: E731
    assert run1(spark, sql_fn, inp) == out


# ---- Pinned behaviour over adversarial and fuzz inputs: each test hashes
# one function's sorted (input, output) pairs with sha256. The pinned
# digests are those of the Column-builder implementation each `*_sql`
# form once had, taken while builder and SQL form agreed on every input
# below; so the SQL forms still match the builders they replaced.
ADVERSARIAL_KEYS = [
    None, "", " ", "nan", " None ", "<NA>", "NULL", "nat",
    "a  b\tc", " HX 261 ", "經濟艙 K", "back`tick",
    "2024.3.5", "3-5", "2024/03/05", "05/2024", "13/45", "1/2",
    "02/29", "xx/yy", "12.31", "  7 / 8  ", "2024-12-31", "31/2024", "0/0",
]


ADVERSARIAL_VALUES = ADVERSARIAL_KEYS + [
    "HX261", " cx  450 ", "CI45", "CI7", "ci45", "A1", "AB12345", "AB12C",
    "2025-11-05 19:20:00", "0 days 19:20:00", "9:05", "25:99", "x 12:30 y",
    "1件", "25 公斤", "20KG", "2.5kg", "無", "20KG/2件", "1.0件", "3.7",
    "0 days 02:05:00", "01:30:30", "95", "1 days 2:05", "02:05:31",
    "2025/11/5 8:3", "2025-11-5", "-2024-", "abc-def-ghi",
]


_X = "`x`"
UNARY_SQL = [
    S.airline_code_sql,
    S.first_token_sql,
    S.to_time_hhmm_sql,
    S.duration_to_minutes_sql,
    S.luggage_value_sql,
    S.luggage_unit_sql,
    S.luggage_reassemble_sql,
    S.to_date_yyyy_mm_dd_sql,
    S.date_to_mm_dd_slice_sql,
    S.year_prefix_sql,
    S.despace_sql,
    S.canonical_flight_number_sql,
]

KEY_SQL = {
    "normalize_join_key": S.normalize_join_key_sql("x"),
    "normalize_join_key_strip": S.normalize_join_key_sql("x", strip_all_whitespace=True),
    "normalize_join_date": S.normalize_join_date_sql(S.normalize_join_key_sql("x")),
}

# name -> (rows, schema, SQL over the row's columns)
MULTI_ARG_CASES = {
    "attach_year": (
        [("2024", "03/05"), (None, "03/05"), ("2024", None), ("", "")],
        "y string, m string",
        S.attach_year_sql("`y`", "`m`"),
    ),
    "guarded_to_long": (
        [(x,) for x in [None, 1.0, -3.99, 0.0, float("nan"), float("inf"), float("-inf"), 2.5e18]],
        "x double",
        S.guarded_to_long_sql(_X),
    ),
    "invalid_flight_row": (
        [
            ("CI045", "HX261"), ("", ""), ("BAD", "CI045"), (None, "x"),
            ("CI0456", "AB123"), ("ci045", "AB12"),
        ],
        "f1 string, f2 string",
        S.invalid_flight_row_sql(["f1", "f2"]),
    ),
}

PINNED_DIGESTS = {
    "adversarial": {
        "airline_code": "e2ad7c6f065a3ba75dcbdeb53074966872ef8c4282a3395d0b8b11080138913b",
        "first_token": "c1acec522b3472bb8917eed951564b39e3aa84ef57372d9e4663b3b2dcf7114d",
        "to_time_hhmm": "203d49721bf2428137d00e2e3c6b663c27aef3a0d7c94d97915502db5c93b258",
        "duration_to_minutes": "c8b74c34ccc5adc8afd7e5ef68ba380eb52c3249143af38561aa3d958ad30bea",
        "luggage_value": "2f101e7d32d91e8a32b69c6f36e3099c9b25d44c6209d7cef1afa56e3ec7a48a",
        "luggage_unit": "2226444f848ba01e86f7f2762f9ac40cf9dd1ae59081aa87666e8f7a3dca6f86",
        "luggage_reassemble": "8176a3f3b9bc330acdd60c5b348ee65bcc6f591ae5b00955ffb6a456a4626838",
        # re-pinned when bare times ('9:05', '01:30:30', '02:05:31') stopped
        # taking the wall clock's date and became '' (the only change)
        "to_date_yyyy_mm_dd": "258a576f1ac556f8e62c3d3ca5ce556abe1f6d1cb98d7d8681597452775ab9b0",
        "date_to_mm_dd_slice": "a1301b1ed21507ad25e0557045f9185d8a9ce914faaa7e7f8efc7da47d61f691",
        "year_prefix": "49c7d79d128496a73292d7ff7a0efe1c5c66d8cefaf4b8f35372c7808906570f",
        "despace": "39b2f20a075cccbe0fdae17e8ba1c58c744927b3a7785626fd4ef77fe9e1f39c",
        "canonical_flight_number": "f40807031b3a85a92781f2de74cb4721f2cf3c468e4ce227d22d75f1d6311a55",
    },
    "keys": {
        "normalize_join_key": "666cf4ea541efade923a50c29045f9555b8681fe4f9418c0c589fe81c255ae8e",
        "normalize_join_key_strip": "82df196fcb155c7317cefddd9e796b5abf33fda198330c07cba21ac7f698b9da",
        "normalize_join_date": "8675c5efaf7cdceb28aa3c279f951fbc5428c166589149381af836af6b801780",
    },
    "multi_arg": {
        "attach_year": "070c3957ae4c754d441fd99343d710ee0e40e9f00ad6ca0800dea5b34a4a6204",
        "guarded_to_long": "01ce1d1298a518ff35c5f8dfc502028396c2eb5cee154731cacba7b8b6c53216",
        "invalid_flight_row": "9194450000159100f5a2006015f60e1b283499a3f6b43d3e4413bff22f1ab381",
    },
    "fuzz": {
        "airline_code": "e98b16ca03da4639242a3dccc03dbb8edaa0df7e976b6fcd9dbda775c0fc272c",
        "first_token": "eaaf41ca87f4bb7a7cd1045e3bb3db1945cf7ddf7e8fc9618920cdb2c9d53bed",
        "to_time_hhmm": "75e4e188be29d82d13476000b4ef725a13c828f58af0a45e1ebe54f6cdc63ee8",
        "duration_to_minutes": "13f7c1859257dce67ac6bf291b06bd43a9694cd8ee7f56932a1ffc4d7979497d",
        "luggage_value": "e6902fdddab18da71e37708f52db4728d3a95855ad3fdd82b5e4043a37726a57",
        "luggage_unit": "22e30f3d48c81c713fcdfce6938ac07cc04839fccb213c4651d9b50a60622a38",
        "luggage_reassemble": "837b1de2d35dd49e15ed031be8a43ad69bdb1cf31a80ca5646c7733df0a2329e",
        "to_date_yyyy_mm_dd": "75e4e188be29d82d13476000b4ef725a13c828f58af0a45e1ebe54f6cdc63ee8",
        "date_to_mm_dd_slice": "f360cd69cd5f67c56098fdcef5b4dadf3f93b36117d099b7fa98675328d084c3",
        "year_prefix": "6929cd9f760e9ea9f2fe94503ceb60453b8049435ef316bc0a539783c33fb66c",
        "despace": "81ed4518fb1bc7ef6fb0b0d5dd38a25f027e77aad2c18b1846871797cc0209da",
        "canonical_flight_number": "8d5d564adcb919e8f5f1a1a1e3ffbbe8a0087919d088d2b35c6b97bd22b0fa06",
        "normalize_join_key": "c764ae9c720f91276e3e37a26f5e0a457b4009a62d3b9f28284ca387fb81c3b4",
        "normalize_join_key_strip": "be7d793ab0747960b46a789394c5cd6bfab04ac902903df7da7fbe8a138df927",
        "normalize_join_date": "da85986c9f9d6fbe85724d01d8f2bb80a59d2ce18c72430c269a5d58c878052b",
    },
}


def _digest(pairs) -> str:
    return hashlib.sha256("\n".join(sorted(repr(p) for p in pairs)).encode()).hexdigest()


def unary_digests(spark, values, sqls: dict[str, str]) -> dict[str, str]:
    """name -> sha256 over the sorted (input, output) pairs of `values`."""
    df = spark.createDataFrame([(v,) for v in values], "x string")
    rows = df.select("x", *[F.expr(sql).alias(n) for n, sql in sqls.items()]).collect()
    return {n: _digest((r["x"], r[n]) for r in rows) for n in sqls}


@pytest.mark.parametrize(
    "name,twin",
    [(f.__name__.removesuffix("_sql"), f) for f in UNARY_SQL],
    ids=lambda f: getattr(f, "__name__", str(f)),
)
def test_scalar_sql_twin_matches_builder(spark, name, twin):
    """Each unary scalar on every adversarial vector (nulls, placeholders,
    CJK, regex metacharacters, every date/time/luggage/flight shape)."""
    got = unary_digests(spark, ADVERSARIAL_VALUES, {name: twin(_X)})
    assert got[name] == PINNED_DIGESTS["adversarial"][name]


def test_two_arg_and_list_sql_twins_match(spark):
    """attach_year / guarded_to_long / invalid_flight_row (non-unary
    signatures)."""
    got = {}
    for n, (data, schema, sql) in MULTI_ARG_CASES.items():
        rows = spark.createDataFrame(data, schema).select("*", F.expr(sql).alias("out")).collect()
        got[n] = _digest((tuple(r)[:-1], r["out"]) for r in rows)
    assert got == PINNED_DIGESTS["multi_arg"]


def test_sql_twins_match_column_builders(spark):
    """Join-key normalization (both whitespace modes) and join-date
    normalization on the adversarial keys."""
    assert unary_digests(spark, ADVERSARIAL_KEYS, KEY_SQL) == PINNED_DIGESTS["keys"]


def test_sql_twins_fuzz_random_strings(spark):
    """Every unary scalar over 300 seeded-random strings mixing CJK,
    digits, separators, whitespace runs and placeholder fragments."""
    rng = random.Random(20260814)
    alphabet = (
        "abcXYZ012345 \t:/-.件公斤kgKG無經濟艙 días days nan None NULL <NA> nat"
    )
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
        for _ in range(300)
    ] + [None]
    sqls = {f.__name__.removesuffix("_sql"): f(_X) for f in UNARY_SQL} | KEY_SQL
    assert unary_digests(spark, vals, sqls) == PINNED_DIGESTS["fuzz"]


# Builders that take a `let` binder, and join-key normalization composed
# the way operators.joins.normalize_join_keys composes it.
LET_SQL = {
    "to_time_hhmm": S.to_time_hhmm_sql,
    "duration_to_minutes": S.duration_to_minutes_sql,
    "luggage_value": S.luggage_value_sql,
    "luggage_unit": S.luggage_unit_sql,
    "luggage_reassemble": S.luggage_reassemble_sql,
    "to_date_yyyy_mm_dd": S.to_date_yyyy_mm_dd_sql,
    "canonical_flight_number": S.canonical_flight_number_sql,
    "normalize_join_key_strip": lambda x, let=S._inline: S.normalize_join_key_sql(
        "x", strip_all_whitespace=True, let=let
    ),
    "normalize_join_date": lambda x, let=S._inline: S.normalize_join_date_sql(
        let(S.normalize_join_key_sql("x", let=let)), let
    ),
}


def test_staged_builders_match_inline(spark):
    """conform.Bindings stages every bound subexpression as a column; each
    builder's staged result equals its one-expression form on every
    adversarial value and every fuzz string, and the staged plan
    evaluates each regex once."""
    from domanda_etl_spark.operators.conform import Bindings

    rng = random.Random(7)
    alphabet = "abcXYZ012345 \t:/-.件公斤kgKG無 days nan None"
    vals = ADVERSARIAL_VALUES + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24))) for _ in range(200)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    b = Bindings()
    staged = b.apply(df, {n: f(_X, b) for n, f in LET_SQL.items()}, select=True)
    inline = df.selectExpr(*[f"({f(_X)}) AS {n}" for n, f in LET_SQL.items()])
    assert sorted(map(repr, staged.collect())) == sorted(map(repr, inline.collect()))

    one = Bindings()
    plan = one.apply(df, {"out": S.luggage_reassemble_sql(_X, one)}, select=True)
    text = plan._jdf.queryExecution().optimizedPlan().toString()
    assert text.count("regexp_extract") == 1 and text.count("regexp_replace") == 1

"""Tests for the expression layer: DSL compiler, code builder, time
parsing, union/dedup/order helpers (SURVEY §5 layer-1 analogue — the
reference uses doctests for these; the vectors below mirror its doctest
examples, e.g. parser.py:50-488)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from meds_polars_functions_spark.functions.expr import (
    code_expr,
    fill_to_nans,
    keep_first,
    multi_format_time_parse,
    normalize_time_unit,
    null_safe_join,
    strftime_to_spark,
)
from meds_polars_functions_spark.functions.parser import (
    compile_expr,
    compile_matcher,
)
from meds_polars_functions_spark.operators.extract_events import extract_event
from meds_polars_functions_spark.operators.merge_sort import union_by_name_relaxed


def test_strftime_translation():
    assert strftime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_to_spark("%m/%d/%Y, %H:%M:%S") == "MM/dd/yyyy, HH:mm:ss"


def test_multi_format_time_parse(spark):
    df = spark.createDataFrame(
        [("2020-01-02 03:04:05",), ("01/02/2020, 03:04:05",), ("garbage",)],
        "t string",
    )
    out = df.select(
        multi_format_time_parse("t", ["%Y-%m-%d %H:%M:%S", "%m/%d/%Y, %H:%M:%S"]).alias("ts")
    ).collect()
    assert out[0]["ts"] == dt.datetime(2020, 1, 2, 3, 4, 5)
    assert out[1]["ts"] == dt.datetime(2020, 1, 2, 3, 4, 5)
    assert out[2]["ts"] is None


def test_multi_format_time_parse_timestamp_passthrough(spark):
    # an already-TIMESTAMP column with nonzero microseconds renders as
    # 'yyyy-MM-dd HH:mm:ss.SSSSSS' — a fraction-less format list must not
    # silently null it (regression: values were dropped by extract_event)
    ts = dt.datetime(2020, 1, 2, 3, 4, 5, 678901)
    df = spark.createDataFrame([(ts,)], "t timestamp")
    out = df.select(
        multi_format_time_parse("t", ["%Y-%m-%d %H:%M:%S"]).alias("ts")
    ).collect()
    assert out[0]["ts"] == ts


def test_code_expr_nulls_to_unk(spark):
    df = spark.createDataFrame([("CARDIAC",), (None,)], "dept string")
    out = df.select(code_expr(["ADMISSION", "col(dept)"]).alias("code")).collect()
    assert out[0]["code"] == "ADMISSION//CARDIAC"
    assert out[1]["code"] == "ADMISSION//UNK"


def test_parser_matcher(spark):
    df = spark.createDataFrame(
        [("bar", "baz", 1), ("bar", "qux", 2), ("x", "baz", 3)], "foo string, buzz string, i int"
    )
    cond, cols = compile_matcher({"foo": "bar", "buzz": "baz"})
    assert cols == {"foo", "buzz"}
    assert [r["i"] for r in df.filter(cond).collect()] == [1]


def test_parser_col_str_literal(spark):
    df = spark.createDataFrame([("a", "b")], "x string, y string")
    e1, c1 = compile_expr({"col": "x"})
    e2, c2 = compile_expr({"str": "v//{x}//{y}"})
    e3, c3 = compile_expr({"literal": 5})
    e4, _ = compile_expr("x")          # bare col
    e5, _ = compile_expr("lit//{x}")   # bare str with interpolation
    row = df.select(
        e1.alias("a"), e2.alias("b"), e3.alias("c"), e4.alias("d"), e5.alias("e")
    ).first()
    assert row["a"] == "a"
    assert row["b"] == "v//a//b"
    assert row["c"] == 5
    assert row["d"] == "a"
    assert row["e"] == "lit//a"


def test_parser_coalesce_and_conditional(spark):
    df = spark.createDataFrame(
        [(None, "f", "m1"), ("v", "f", "m2"), (None, None, "m1")],
        "a string, b string, m string",
    )
    e, _ = compile_expr([{"col": "a"}, {"col": "b"}])
    rows = df.select(e.alias("out")).collect()
    assert [r["out"] for r in rows] == ["f", "v", None]
    e2, _ = compile_expr({"output": {"col": "b"}, "matcher": {"m": "m1"}})
    rows2 = df.select(e2.alias("out")).collect()
    assert [r["out"] for r in rows2] == ["f", None, None]
    # single-pair shorthand: "<expr str>": matcher
    e3, _ = compile_expr({"pfx//{b}": {"m": "m1"}})
    rows3 = df.select(e3.alias("out")).collect()
    assert [r["out"] for r in rows3] == ["pfx//f", None, None]


def test_extract_event(spark):
    raw = spark.createDataFrame(
        [
            (1, "CARDIAC", "01/02/2020, 03:04:05", "100.5"),
            (2, None, "01/03/2020, 00:00:00", "x"),
            (3, "ORTHO", "bad-date", "99"),
        ],
        "patient_id long, dept string, when string, hr string",
    )
    out = extract_event(
        raw,
        {
            "code": ["ADMISSION", "col(dept)"],
            "time": "col(when)",
            "time_format": "%m/%d/%Y, %H:%M:%S",
            "numeric_value": "col(hr)",
        },
    ).collect()
    rows = {r["patient_id"]: r for r in out}
    assert rows[1]["code"] == "ADMISSION//CARDIAC"
    assert rows[1]["numeric_value"] == 100.5
    # reference semantics: rows with a null FIRST column field are dropped
    # (get_code_expr null filter, convert_to_sharded_events.py:50-66)
    assert 2 not in rows
    assert 3 not in rows  # unparseable time dropped

    # later null column parts render as UNK (not dropped)
    raw2 = spark.createDataFrame(
        [(1, "A", None)], "patient_id long, first string, second string"
    )
    out2 = extract_event(
        raw2, {"code": ["col(first)", "col(second)"], "time": None}
    ).collect()
    assert out2[0]["code"] == "A//UNK"


def test_union_by_name_relaxed(spark):
    a = spark.createDataFrame([(1, 1.5)], "id int, v double")
    b = spark.createDataFrame([(2, "x")], "id int, s string")
    out = union_by_name_relaxed([a, b])
    assert set(out.columns) == {"id", "v", "s"}
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["v"] == 1.5 and rows[1]["s"] is None
    assert rows[2]["v"] is None and rows[2]["s"] == "x"
    # int + double -> double supertype
    c = spark.createDataFrame([(3,)], "v int")
    d = spark.createDataFrame([(0.5,)], "v double")
    out2 = union_by_name_relaxed([c, d])
    assert dict(out2.dtypes)["v"] == "double"


def test_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 5), (1, "b", 7), (2, "a", 1)],
        "pid int, k string, v int",
    )
    out = keep_first(df, ["pid", "k"], [F.col("v")])
    got = {(r["pid"], r["k"]): r["v"] for r in out.collect()}
    assert got == {(1, "a"): 5, (1, "b"): 7, (2, "a"): 1}


def test_null_safe_join(spark):
    left = spark.createDataFrame([(None, 1), ("a", 2)], "k string, v int")
    right = spark.createDataFrame([(None, "NULLKEY"), ("a", "A")], "k string, d string")
    out = null_safe_join(left, right, on=["k"], how="inner")
    got = {r["v"]: r["d"] for r in out.collect()}
    assert got == {1: "NULLKEY", 2: "A"}  # null==null matches


def test_fill_to_nans(spark):
    import math

    df = spark.createDataFrame(
        [(1.0,), (float("inf",),), (None,)], "v double"
    )
    rows = df.select(fill_to_nans("v").alias("f")).collect()
    assert rows[0]["f"] == 1.0
    assert math.isnan(rows[1]["f"])
    assert math.isnan(rows[2]["f"])


def test_normalize_time_unit():
    assert normalize_time_unit("yrs") == ("years", 31556926.080000002)
    assert normalize_time_unit("d")[1] == 86400


def test_chunk_documents_overlap(spark):
    from meds_polars_functions_spark.operators.text import chunk_documents

    txt = "abcdefghij" * 25  # 250 chars
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    rows = (
        chunk_documents(df, "text", "doc_id", chunk_chars=100, overlap=20)
        .orderBy("chunk_idx")
        .collect()
    )
    # starts at 0, 80, 160, 240
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
    assert [len(r["chunk"]) for r in rows] == [100, 100, 90, 10]
    # overlap: each chunk re-covers the previous one's tail
    assert rows[0]["chunk"][80:] == rows[1]["chunk"][:20]
    # reassembly: dropping the 20-char overlap reconstructs the document
    assert rows[0]["chunk"] + "".join(r["chunk"][20:] for r in rows[1:]) == txt


def test_scrub_pii_patterns(spark):
    from meds_polars_functions_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.b@c.io, call (555) 123-4567, host 10.0.0.1, "
             "card 4111 1111 1111 1111, keep year 2024")],
        "id long, text string",
    )
    out = scrub_pii(df, "text").first()["text"]
    assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out and "<CARD>" in out
    assert "a.b@c.io" not in out and "10.0.0.1" not in out
    assert "2024" in out  # plain years survive


def test_unigram_lm_score(spark):
    import math

    from meds_polars_functions_spark.operators.text import unigram_lm_score

    df = spark.createDataFrame(
        [
            (1, "the cat the cat"),   # only common tokens
            (2, "the zyxzyx"),        # one common + one hapax
            (3, ""),                  # no tokens -> absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_lm_score(df, "text", "doc_id").collect()}
    # corpus: the×3, cat×2, zyxzyx×1 -> N=6
    assert 3 not in out
    assert out[1]["n_tokens"] == 4
    exp1 = (2 * math.log(3 / 6) + 2 * math.log(2 / 6)) / 4
    assert abs(out[1]["lm_score"] - exp1) < 1e-9
    exp2 = (math.log(3 / 6) + math.log(1 / 6)) / 2
    assert abs(out[2]["lm_score"] - exp2) < 1e-9
    # fluent doc scores higher than the one with a rare token
    assert out[1]["lm_score"] > out[2]["lm_score"]

    # truncated vocab: top-2 words keep exact probs, the hapax floors at 1/N
    trunc = {
        r["doc_id"]: r
        for r in unigram_lm_score(df, "text", "doc_id", top_k=2).collect()
    }
    assert abs(trunc[1]["lm_score"] - exp1) < 1e-9      # all tokens in vocab
    assert abs(trunc[2]["lm_score"] - exp2) < 1e-9      # floor 1/6 == true 1/6
    only_common = {
        r["doc_id"]: r
        for r in unigram_lm_score(df, "text", "doc_id", top_k=1).collect()
    }
    # with top_k=1 'cat' also floors to 1/6: score must drop for doc 1
    exp1_floor = (2 * math.log(3 / 6) + 2 * math.log(1 / 6)) / 4
    assert abs(only_common[1]["lm_score"] - exp1_floor) < 1e-9


def test_repetition_stats_gopher_filters(spark):
    from meds_polars_functions_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            # 4 lines, 3 duplicates of "hello world" (11 chars each)
            (1, "hello world\nhello world\nunique line\nhello world"),
            # overlapping self-repeat: top-bigram mass clamps at 1.0
            (2, "spam spam spam spam spam ok"),
            (3, "all lines here\nare different\nno repeats at all"),
            (4, ""),
            # exactly 2 words -> 1 bigram; regression for the descending
            # sequence(2,1) INVALID_INDEX_OF_ZERO crash at nb==1
            (5, "hello world"),
            (6, "one"),  # 1 word -> 0 bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert out[1]["dup_line_frac"] == 0.75            # 3 of 4 lines duplicated
    assert out[1]["dup_line_char_frac"] == 0.75       # 33 of 44 chars
    assert out[1]["top_bigram_char_frac"] == 0.825    # "hello world"×3 → 33/40
    assert out[2]["top_bigram_char_frac"] == 1.0      # clamped
    assert out[3]["dup_line_frac"] == 0.0
    assert 0 < out[3]["top_bigram_char_frac"] < 0.5   # count-1 bigram only
    assert tuple(out[4])[1:] == (0.0, 0.0, 0.0)       # empty doc -> zeros
    assert out[5]["top_bigram_char_frac"] == 1.0      # 1 bigram = all 10 word chars
    assert out[5]["dup_line_frac"] == 0.0
    assert out[6]["top_bigram_char_frac"] == 0.0      # no bigrams


def test_blocklist_hits_token_exact_and_phrases(spark):
    """Unigram matches must be word-boundary exact (no substring false
    positives), phrases must match as shingles with overlap counting,
    and documents shorter than the phrase length must be safe."""
    from meds_polars_functions_spark.operators.text import blocklist_hits

    df = spark.createDataFrame(
        [
            (1, "the associate passed by"),          # 'ass' must NOT hit
            (2, "ass and more ass here"),            # 2 unigram hits
            (3, "a bad phrase and bad phrase again"),  # 2 phrase hits
            (4, "bad"),                               # shorter than phrase
            (5, "clean text entirely"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r["n_hits"]
        for r in blocklist_hits(df, "text", "doc_id", ["ass", "bad phrase"]).collect()
    }
    assert out == {2: 2, 3: 2}


def test_blocklist_hits_keeps_apostrophes_like_its_oracle(spark):
    """blocklist_hits and the registered blocklist oracle split words the
    same way: apostrophes are kept, so "slow's" is not a hit on "slow"
    (the registry fixture has no apostrophes, so only this frame shows
    a dialect mismatch)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from meds_polars_functions_spark.operators.text import blocklist_hits

    rows = [
        (1, "the slow's table scan"),
        (2, "slow"),
        (3, "it's slow"),
        (4, "slow's slow's"),
        (5, "hash join's plan"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id"], r["n_hits"])
        for r in blocklist_hits(
            df, "text", "doc_id", ["slow", "hash join", "table scan"]
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(r) for r in con.execute(entry.oracle_sql()["blocklist"]).fetchall()
    )
    assert got == want
    assert got == [(1, 1), (2, 1), (3, 1)]


_DIALECT_INPUTS = [
    "slow's", "it''s", "a1_b2-c3", "ß STRASSE", "ÀÉ café", "ΣΑΣ", "", None,
]


@pytest.mark.parametrize(
    "name, pattern", [("TEXT", "[^a-z0-9']+"), ("DEDUP", "[^a-z0-9]+")]
)
def test_tokenizer_dialect_forms_agree(spark, name, pattern):
    """The Spark expression, the Python regex and the DuckDB fragment of
    each dialect return the same word list on hard strings."""
    import duckdb

    from meds_polars_functions_spark.functions import tokenize

    d = getattr(tokenize, name)
    assert d.pattern == pattern
    inputs = [*_DIALECT_INPUTS, "İstanbul"]
    df = spark.createDataFrame(list(enumerate(inputs)), "i int, t string")
    got_spark = [
        r["w"]
        for r in df.select("i", d.words(F.col("t")).alias("w")).orderBy("i").collect()
    ]
    got_py = [
        None if t is None else [w for w in d.regex.split(t.lower()) if w]
        for t in inputs
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {d.sql('t')} FROM (SELECT ?::VARCHAR AS t)", [t])
        .fetchone()[0]
        for t in inputs
    ]
    n = len(_DIALECT_INPUTS)
    assert got_spark[:n] == got_py[:n] == got_duck[:n]
    # expected divergence: DuckDB lowercases U+0130 to a plain "i"; Java
    # and Python give "i" + U+0307, which the pattern splits on
    assert got_spark[n] == got_py[n] == ["i", "stanbul"]
    assert got_duck[n] == ["istanbul"]


def test_tokenizer_patterns_live_only_in_tokenize_module():
    """Drift guard: library and registry code import a word dialect from
    functions/tokenize.py instead of spelling its pattern out (a copy is
    how blocklist_hits once drifted from its oracle)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    home = root / "meds_polars_functions_spark" / "functions" / "tokenize.py"
    patterns = ("[^a-z0-9']+", "[^a-z0-9'']+", "[^a-z0-9]+")
    files = [*root.glob("meds_polars_functions_spark/**/*.py"), root / "__spark_entry__.py"]
    assert home in files
    copies = [
        f"{f.relative_to(root)}:{i}"
        for f in files
        if f != home
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if any(p in line for p in patterns)
    ]
    assert copies == []


def test_language_id_udf_matches_expression_form(spark):
    # vectorized argmax must be bit-identical to the greatest-of-structs
    # expression form, incl. the tie rule (max hits, then lexicographically
    # greatest lang) and the tokenizer quirk that non-ASCII stopword
    # entries are unreachable
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.text import (
        _langid_best_expr,
        language_id,
    )

    rows = [
        (1, "the cat and the dog of the house was in it for fun"),
        (2, "le chat et le chien de la maison est dans les champs"),
        (3, "der Hund und die Katze ist von den Bergen im Wald"),
        (4, "el gato y el perro de la casa es por los campos"),
        (5, "xyzzy plugh quux"),                      # no hits -> und
        (6, "de la"),                                  # fr/es tie words
        (7, ""),
        (8, None),
        (9, "für für für"),                            # unreachable stopword
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: (r["lang_pred"], r["stopword_hits"])
           for r in language_id(df, "text", "id").collect()}
    best = _langid_best_expr("text")
    ref = {r["id"]: (r["lang_pred"], r["stopword_hits"])
           for r in df.select(
               "id",
               F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
               best["s"].alias("stopword_hits"),
           ).collect()}
    assert got == ref
    assert got[1][0] == "en" and got[5] == ("und", 0) and got[9] == ("und", 0)


def test_language_id_single_python_stage(spark):
    # the struct-returning UDF is referenced three times in the select;
    # Spark must extract it into ONE ArrowEvalPython stage
    import io
    import re
    from contextlib import redirect_stdout

    from meds_polars_functions_spark.operators.text import language_id

    df = spark.createDataFrame([(1, "the of and")], "id int, text string")
    buf = io.StringIO()
    with redirect_stdout(buf):
        language_id(df, "text", "id").explain("formatted")
    n = len(re.findall(r"^\(\d+\) ArrowEvalPython", buf.getvalue(), re.M))
    assert n == 1, buf.getvalue()


def test_stopword_hits_udf_matches_expression_form(spark):
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.functions.tokenize import TEXT
    from meds_polars_functions_spark.operators.text import (
        STOPWORDS,
        _stopword_hits_udf,
    )

    rows = [
        (1, "the cat and the dog of the house"),   # dup stopwords counted
        (2, "no matches here whatsoever friends"),
        (3, "it's the cat's dinner and it is his"),  # apostrophes kept
        (4, ""),
        (5, None),
        (6, "THE The tHe"),                          # lowercasing
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    ref = {
        r["id"]: r["h"]
        for r in df.select(
            "id",
            F.size(
                F.filter(TEXT.words(F.col("text")), lambda w: F.array_contains(en_stop, w))
            ).alias("h"),
        ).collect()
    }
    got = {
        r["id"]: r["h"]
        for r in df.select("id", _stopword_hits_udf("en")(F.col("text")).alias("h")).collect()
    }
    assert got == ref
    assert got[1] == 5 and got[5] == -1 and got[6] == 3

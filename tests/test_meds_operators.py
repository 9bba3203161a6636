"""Golden-value tests for the MEDS operator suite (SURVEY §5 layer-3
analogue: single-stage transforms over the canonical mini-cohort)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from meds_polars_functions_spark.operators.aggregate_code_metadata import (
    aggregate_code_metadata,
    merge_pre_aggregated,
)
from meds_polars_functions_spark.operators.add_time_derived_measurements import (
    add_new_events,
    age_events,
    time_of_day_events,
)
from meds_polars_functions_spark.operators.filter_measurements import filter_measurements
from meds_polars_functions_spark.operators.filter_patients import (
    filter_patients_by_num_events,
    filter_patients_by_num_measurements,
)
from meds_polars_functions_spark.operators.fit_vocabulary_indices import (
    fit_vocabulary_indices,
)
from meds_polars_functions_spark.operators.normalization import normalize
from meds_polars_functions_spark.operators.occlude_outliers import occlude_outliers
from meds_polars_functions_spark.operators.reorder_measurements import (
    reorder_measurements,
)
from meds_polars_functions_spark.operators.tokenization import (
    extract_seq_of_patient_events,
    extract_statics_and_schema,
)


def by_code(rows, code):
    return [r for r in rows if r["code"] == code]


def test_aggregate_code_metadata(meds_df):
    out = {r["code"]: r.asDict() for r in aggregate_code_metadata(meds_df).collect()}
    hr = out["HR"]
    assert hr["code/n_patients"] == 3
    assert hr["code/n_occurrences"] == 4
    assert hr["values/n_occurrences"] == 4
    assert math.isclose(hr["values/sum"], 102.6 + 105.1 + 109.0 + 86.0)
    assert hr["values/n_ints"] == 2  # 109.0 and 86.0
    assert hr["values/min"] == 86.0
    assert hr["values/max"] == 109.0
    dob = out["DOB"]
    assert dob["code/n_patients"] == 3
    assert dob["values/n_occurrences"] == 0
    assert dob["values/sum"] == 0.0
    assert dob["values/min"] is None


def test_aggregate_all_codes_row(meds_df):
    out = aggregate_code_metadata(meds_df, do_summarize_over_all_codes=True)
    rows = {r["code"]: r for r in out.collect()}
    assert None in rows
    assert rows[None]["code/n_occurrences"] == 20
    assert rows[None]["code/n_patients"] == 3


def test_all_codes_with_null_modifier_values(spark):
    """Regression: grouping must distinguish a legitimately-NULL modifier
    value from a rollup row — the cube+null-filter formulation dropped
    (HR, unit=NULL) groups and duplicated the all-NULL summary row."""
    rows = [
        (1, None, "HR", "bpm", 60.0),
        (1, None, "HR", None, 70.0),
        (2, None, "HR", None, 80.0),
    ]
    df = spark.createDataFrame(
        rows,
        "patient_id long, time timestamp, code string, unit string, numeric_value double",
    )
    out = aggregate_code_metadata(
        df, code_modifiers=["unit"], do_summarize_over_all_codes=True
    ).collect()
    groups = {(r["code"], r["unit"]): r["code/n_occurrences"] for r in out}
    assert groups[("HR", "bpm")] == 1
    assert groups[("HR", None)] == 2  # null-modifier group survives
    assert groups[(None, None)] == 3  # exactly one grand-total row
    assert len(out) == 3


def test_normalization_constant_code_is_nan_not_null(spark):
    """Regression: std==0 codes must produce NaN/±inf (Polars semantics),
    not NULL (Spark non-ANSI x/0)."""
    import math

    df = spark.createDataFrame(
        [(1, None, "K", 5.0), (2, None, "K", 5.0)],
        "patient_id long, time timestamp, code string, numeric_value double",
    )
    meta = fit_vocabulary_indices(aggregate_code_metadata(df))
    vals = [r["numeric_value"] for r in normalize(df, meta).collect()]
    assert all(v is not None and math.isnan(v) for v in vals)


def test_merge_pre_aggregated(spark, meds_df):
    half1 = aggregate_code_metadata(meds_df.filter(F.col("patient_id") == 239684))
    half2 = aggregate_code_metadata(meds_df.filter(F.col("patient_id") != 239684))
    merged = {r["code"]: r.asDict() for r in merge_pre_aggregated([half1, half2]).collect()}
    full = {r["code"]: r.asDict() for r in aggregate_code_metadata(meds_df).collect()}
    for code, row in full.items():
        for k, v in row.items():
            if k == "code":
                continue
            # n_patients included: the shards are patient-disjoint, so
            # the distinct counts ARE algebraic here (see the caveat in
            # merge_pre_aggregated's docstring)
            got = merged[code][k]
            if isinstance(v, float):
                assert math.isclose(got, v), (code, k)
            else:
                assert got == v, (code, k)


def test_merge_pre_aggregated_overlapping_shards_double_count(spark, meds_df):
    """The documented caveat, executable: merging shards that SHARE a
    patient double-counts the distinct-patient columns (while the plain
    sums stay exact) — the reason the reference's layout keys shards by
    patient."""
    overlap_a = aggregate_code_metadata(meds_df)  # everyone
    overlap_b = aggregate_code_metadata(
        meds_df.filter(F.col("patient_id") == 239684)
    )  # one patient again
    merged = {r["code"]: r.asDict() for r in merge_pre_aggregated([overlap_a, overlap_b]).collect()}
    full = {r["code"]: r.asDict() for r in aggregate_code_metadata(meds_df).collect()}
    codes_of_239684 = {
        r["code"] for r in meds_df.filter(F.col("patient_id") == 239684).select("code").distinct().collect()
    }
    assert any(
        merged[c]["code/n_patients"] > full[c]["code/n_patients"]
        for c in codes_of_239684
    )


def test_filter_patients(meds_df):
    out = filter_patients_by_num_measurements(meds_df, 5)
    assert set(r["patient_id"] for r in out.collect()) == {239684, 1195293}
    out2 = filter_patients_by_num_events(meds_df, 5)
    # events = distinct times incl. the null static time
    # 239684: null,dob,3 times = 5 -> kept; 1195293: null,dob,2 = 4
    assert set(r["patient_id"] for r in out2.collect()) == {239684}


def test_filter_measurements(meds_df):
    meta = aggregate_code_metadata(meds_df)
    out = filter_measurements(meds_df, meta, min_patients_per_code=3)
    kept_codes = set(r["code"] for r in out.collect())
    assert kept_codes == {"DOB", "HR", "DISCHARGE"}


def test_fit_vocabulary_indices(meds_df):
    meta = fit_vocabulary_indices(aggregate_code_metadata(meds_df))
    rows = sorted(
        (r["code"], r["code/vocab_index"]) for r in meta.collect()
    )
    codes = [c for c, _ in rows]
    assert codes == sorted(codes)
    idxs = [i for _, i in sorted(rows, key=lambda t: t[0])]
    assert idxs == sorted(idxs) and min(idxs) == 1


def test_fit_vocabulary_indices_rejects_duplicate_codes(spark):
    """(code, *modifiers) must be unique (reference
    fit_vocabulary_indices.py:92-99): a repeated code raises, while the
    same code under different modifier values is distinct."""
    meta = spark.createDataFrame(
        [("HR", "icu"), ("HR", "ward"), ("TEMP", None)],
        "code string, unit string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        fit_vocabulary_indices(meta)
    got = sorted(
        (r["code"], r["unit"], r["code/vocab_index"])
        for r in fit_vocabulary_indices(meta, code_modifiers=["unit"]).collect()
    )
    assert got == [("HR", "icu", 1), ("HR", "ward", 2), ("TEMP", None, 3)]


def test_normalization(meds_df):
    meta = fit_vocabulary_indices(aggregate_code_metadata(meds_df))
    out = normalize(meds_df, meta)
    assert dict(out.dtypes)["code"] == "bigint"
    hr_vocab = {
        r["code"]: r["code/vocab_index"] for r in meta.collect()
    }["HR"]
    hr_rows = [r for r in out.collect() if r["code"] == hr_vocab]
    assert len(hr_rows) == 4
    vals = sorted(r["numeric_value"] for r in hr_rows)
    mean = (102.6 + 105.1 + 109.0 + 86.0) / 4
    var = (102.6**2 + 105.1**2 + 109.0**2 + 86.0**2) / 4 - mean**2
    expected = sorted((v - mean) / math.sqrt(var) for v in [102.6, 105.1, 109.0, 86.0])
    for a, b in zip(vals, expected):
        assert math.isclose(a, b, rel_tol=1e-9)


def test_occlude_outliers(meds_df):
    meta = aggregate_code_metadata(meds_df)
    out = occlude_outliers(meds_df, meta, stddev_cutoff=1.0)
    hr = {r["numeric_value"]: r["numeric_value/is_inlier"] for r in out.collect() if r["code"] == "HR"}
    # mean=100.675, std~8.69 -> 86.0 is outside 1 std
    assert hr.get(None) is False or None in hr
    inliers = [v for v, ok in hr.items() if ok]
    assert 86.0 not in inliers


def test_age_events(meds_df):
    out = age_events(meds_df, dob_code="DOB", age_unit="years").collect()
    p1 = [r for r in out if r["patient_id"] == 239684]
    assert len(p1) == 3  # three distinct post-DOB times
    admit = min(p1, key=lambda r: r["time"])
    # ~29.37 years between 1980-12-28 and 2010-05-11
    assert 29.0 < admit["numeric_value"] < 29.8


def test_time_of_day_events(meds_df):
    out = time_of_day_events(meds_df).collect()
    labels = {r["code"] for r in out}
    assert labels <= {
        "TIME_OF_DAY//[00,06)",
        "TIME_OF_DAY//[06,12)",
        "TIME_OF_DAY//[12,18)",
        "TIME_OF_DAY//[18,24)",
    }
    by_pt = [r for r in out if r["patient_id"] == 68729]
    assert {r["code"] for r in by_pt} == {
        "TIME_OF_DAY//[00,06)",
    }


def test_add_new_events_interleaves_before(meds_df, spark):
    new = age_events(meds_df, dob_code="DOB", age_unit="years")
    merged = add_new_events(meds_df.select("patient_id", "time", "code", "numeric_value"), new)
    rows = merged.filter(F.col("patient_id") == 239684).collect()
    # within each partition rows are sorted; AGE must precede HR at same time
    times = [(r["time"], r["code"]) for r in rows]
    admit_t = dt.datetime(2010, 5, 11, 17, 41, 51)
    same_time = [c for t, c in times if t == admit_t]
    assert same_time.index("AGE") < same_time.index("HR")


def test_reorder_measurements(meds_df):
    out = reorder_measurements(meds_df, ["TEMP", "HR"])
    rows = out.filter(
        (F.col("patient_id") == 239684)
        & (F.col("time") == dt.datetime(2010, 5, 11, 17, 41, 51))
    ).collect()
    codes = [r["code"] for r in rows]
    assert codes.index("TEMP") < codes.index("HR")
    assert codes.index("HR") < codes.index("ADMISSION//CARDIAC")


def test_tokenization_statics_and_schema(meds_df):
    out = {r["patient_id"]: r for r in extract_statics_and_schema(meds_df).collect()}
    r = out[239684]
    assert r["code"] == ["EYE_COLOR//BROWN", "HEIGHT"]
    assert r["numeric_value"] == [None, 175.271]
    assert r["start_time"] == dt.datetime(1980, 12, 28)
    assert len(r["time"]) == 4  # dob + 3 distinct times


def test_tokenization_event_seqs(meds_df):
    out = {
        r["patient_id"]: r
        for r in extract_seq_of_patient_events(
            meds_df, code_as_double=False, nan_fill=False
        ).collect()
    }
    r = out[239684]
    assert r["code"][1] == ["ADMISSION//CARDIAC", "HR", "TEMP"] or set(
        r["code"][1]
    ) == {"ADMISSION//CARDIAC", "HR", "TEMP"}
    assert r["time_delta_days"][0] is None
    # 17:41:51 -> 17:48:48 is 417 s
    assert math.isclose(r["time_delta_days"][2], 417 / 86400, rel_tol=1e-6)


def test_hash_split_deterministic_and_proportional(spark):
    from meds_polars_functions_spark.operators.split_patients import hash_split_expr

    ids = spark.range(20_000).select(F.col("id").alias("pid"))
    fr = {"train": 0.8, "tuning": 0.1, "held_out": 0.1}
    a = ids.select("pid", hash_split_expr("pid", fr).alias("s"))
    b = ids.repartition(13).select("pid", hash_split_expr("pid", fr).alias("s"))
    # identical assignment regardless of partitioning / evaluation order
    assert a.exceptAll(b).count() == 0
    counts = {r["s"]: r["n"] for r in a.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["tuning"] / 20_000 - 0.1) < 0.01
    assert abs(counts["held_out"] / 20_000 - 0.1) < 0.01
    # salt draws an independent assignment
    c = ids.select("pid", hash_split_expr("pid", fr, salt="v2").alias("s"))
    assert a.join(c, "pid").filter(a["s"] != c["s"]).count() > 0


def test_code_hierarchy_rollup_hand_values(spark):
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        code_hierarchy_rollup,
    )

    rows = [
        ("ICD//9//428", 1.0),
        ("ICD//9//401", 2.0),
        ("ICD//10//I50", 4.0),
        ("LAB//HR", 8.0),
    ]
    df = spark.createDataFrame(rows, ["code", "v"])
    got = {
        (r["code_prefix"], r["level"]): (r["n"], r["n_codes"], r["value_sum"])
        for r in code_hierarchy_rollup(df, "code", value_col="v").collect()
    }
    assert got[("ICD", 1)] == (3, 3, 7.0)
    assert got[("ICD//9", 2)] == (2, 2, 3.0)
    assert got[("ICD//9//428", 3)] == (1, 1, 1.0)
    assert got[("LAB", 1)] == (1, 1, 8.0)
    assert got[("LAB//HR", 2)] == (1, 1, 8.0)
    # every row contributes once per level: total contributions = sum depth
    assert sum(n for n, _, _ in got.values()) == 3 * 3 + 2

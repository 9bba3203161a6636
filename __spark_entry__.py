"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
beyond-reference dedup / similarity / text / multimodal operators) onto
the driver's synthetic tables; ``oracle_sql()`` holds the DuckDB-
equivalent SQL. The MEDS measurement table is played by ``events``
(patient_id=user_id, time=ts, code=event_type, numeric_value=value).

Float-producing queries round to 6 decimals on BOTH sides so the
order-insensitive value hash is bit-stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meds_polars_functions_spark.functions.tokenize import DEDUP, TEXT

SF_SMOKE = "/root/testdata/sf0.001"

# DuckDB prelude mapping events -> the MEDS measurement table shape.
_MEDS_CTE = """
meds AS (
  SELECT user_id AS patient_id, ts AS "time", event_type AS code,
         value AS numeric_value, event_id
  FROM events
)
"""


def _prep(spark: SparkSession) -> None:
    """Polars-equivalent non-strict semantics + pinned timezone, set at
    runtime so the queries behave identically under any driver session."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS); read as long and convert.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # a stock session defaults to 200 shuffle partitions — pure scheduling
    # overhead at correctness-gate scale; AQE coalescing plus a
    # core-count-sized target keeps per-query wall clock flat
    import os as _os

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # Arrow driver transfers (round 15): small literal frames take the
    # pandas→Arrow path (JVM LocalTableScan) instead of a pickled
    # PythonRDD whose cold plain-pickle worker pool costs seconds of
    # pure wait the first time a session executes one (guide §6).
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def _arrow_lit(spark: SparkSession, rows, schema) -> DataFrame:
    from meds_polars_functions_spark.functions.expr import arrow_literal_frame

    return arrow_literal_frame(spark, rows, schema)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing time columns by DTYPE, not conf:
    the same parquet arrives as BIGINT (nanosAsLong before resolution),
    TIMESTAMP_NTZ (resolution before the conf landed), or TIMESTAMP
    depending on driver-session conf ordering. All three are mapped to a
    session-zone TIMESTAMP so downstream epoch arithmetic
    (cast-to-double / unix_micros) is always legal — Spark forbids both on
    TIMESTAMP_NTZ."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos-as-long -> µs-precision timestamp (truncation, same as the
        # DuckDB ns->µs conversion)
        # integer division — double division loses precision above 2^53 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":
            # Value-preserving relabel under the pinned UTC session zone.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _meds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table in MEDS shape; event_id kept as the deterministic
    intra-event order/tiebreak key."""
    return _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("patient_id"),
        F.col("ts").alias("time"),
        F.col("event_type").alias("code"),
        F.col("value").alias("numeric_value"),
        F.col("event_id"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MEDS code-metadata aggregation over sf0.001 events."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    df = _meds(spark, SF_SMOKE).drop("event_id")
    out = aggregate_code_metadata(df, do_summarize_over_all_codes=True)
    return out.select(
        "code",
        "code/n_patients",
        "code/n_occurrences",
        "values/n_occurrences",
        F.round("values/sum", 6).alias("values/sum"),
        F.round("values/sum_sqd", 6).alias("values/sum_sqd"),
        F.round("values/min", 6).alias("values/min"),
        F.round("values/max", 6).alias("values/max"),
    )


# ---------------------------------------------------------------------------
# Query implementations. Each takes (spark, sf_dir) -> DataFrame.
# ---------------------------------------------------------------------------


def q_agg_code_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: groupBy(code).agg(<full reference aggregation table>)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    out = aggregate_code_metadata(_meds(spark, sf_dir).drop("event_id"))
    return out.select(
        "code",
        "code/n_patients",
        "code/n_occurrences",
        "values/n_patients",
        "values/n_occurrences",
        "values/n_ints",
        F.round("values/sum", 6).alias("values/sum"),
        F.round("values/sum_sqd", 6).alias("values/sum_sqd"),
        F.round("values/min", 6).alias("values/min"),
        F.round("values/max", 6).alias("values/max"),
    )


def q_agg_all_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-code + global (code IS NULL) rows via native rollup."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    out = aggregate_code_metadata(
        _meds(spark, sf_dir).drop("event_id"), do_summarize_over_all_codes=True
    )
    return out.select(
        "code",
        "code/n_patients",
        "code/n_occurrences",
        F.round("values/sum", 6).alias("values/sum"),
    )


def q_filter_patients_min_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: keep patients with >= 8 measurements."""
    _prep(spark)
    from meds_polars_functions_spark.operators.filter_patients import (
        filter_patients_by_num_measurements,
    )

    out = filter_patients_by_num_measurements(_meds(spark, sf_dir), 8)
    return out.select("patient_id", "time", "code", F.col("event_id"))


def q_filter_patients_min_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: keep patients with >= 8 distinct event times."""
    _prep(spark)
    from meds_polars_functions_spark.operators.filter_patients import (
        filter_patients_by_num_events,
    )

    out = filter_patients_by_num_events(_meds(spark, sf_dir), 8)
    return out.select("patient_id", "time", "code", "event_id")


def q_filter_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: keep measurements whose code passes min-occurrence thresholds,
    via broadcast semi-join against the aggregated metadata."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_polars_functions_spark.operators.filter_measurements import (
        filter_measurements,
    )

    meds = _meds(spark, sf_dir)
    meta = aggregate_code_metadata(meds.drop("event_id"))
    out = filter_measurements(
        meds, meta, min_patients_per_code=30, min_occurrences_per_code=50
    )
    return out.select("patient_id", "time", "code", "event_id")


def q_fit_vocabulary_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: 1-based lexicographic vocab index over aggregated codes."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_polars_functions_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )

    meta = aggregate_code_metadata(_meds(spark, sf_dir).drop("event_id"))
    out = fit_vocabulary_indices(meta)
    return out.select("code", "code/n_occurrences", "code/vocab_index")


def q_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: z-score values + integer vocab codes via broadcast null-safe join."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_polars_functions_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )
    from meds_polars_functions_spark.operators.normalization import normalize

    meds = _meds(spark, sf_dir)
    meta = fit_vocabulary_indices(aggregate_code_metadata(meds.drop("event_id")))
    out = normalize(meds, meta)
    return out.select(
        "patient_id",
        "time",
        "event_id",
        "code",
        F.round("numeric_value", 6).alias("numeric_value"),
    )


def q_occlude_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: null out values beyond mean ± 1.5 std via broadcast left join."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_polars_functions_spark.operators.occlude_outliers import occlude_outliers

    meds = _meds(spark, sf_dir)
    meta = aggregate_code_metadata(meds.drop("event_id"))
    out = occlude_outliers(meds, meta, stddev_cutoff=1.5)
    return out.select(
        "patient_id",
        "time",
        "event_id",
        "code",
        F.round("numeric_value", 6).alias("numeric_value"),
        F.col("numeric_value/is_inlier"),
    )


def q_add_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: conditional-min DOB per patient -> age events. The earliest
    'login' event plays the DOB row."""
    _prep(spark)
    from meds_polars_functions_spark.operators.add_time_derived_measurements import (
        age_events,
    )

    meds = _meds(spark, sf_dir).drop("event_id")
    # synthesize a DOB row per patient: min event time tagged DOB
    dob = (
        meds.groupBy("patient_id")
        .agg(F.min("time").alias("time"))
        .select("patient_id", "time", F.lit("DOB").alias("code"), F.lit(None).cast("double").alias("numeric_value"))
    )
    out = age_events(meds.unionByName(dob), dob_code="DOB", age_unit="days")
    return out.select(
        "patient_id", "time", "code", F.round("numeric_value", 6).alias("age_days")
    )


def q_add_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day bucket events with [start,end) labels."""
    _prep(spark)
    from meds_polars_functions_spark.operators.add_time_derived_measurements import (
        time_of_day_events,
    )

    out = time_of_day_events(_meds(spark, sf_dir).drop("event_id"))
    return out.select("patient_id", "time", "code")


def q_time_delta_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: lag/diff within ordered patient group -> per-row delta days."""
    _prep(spark)
    meds = _meds(spark, sf_dir)
    w = Window.partitionBy("patient_id").orderBy("time", "event_id")
    delta = (
        F.col("time").cast("double") - F.lag(F.col("time").cast("double")).over(w)
    ) / 86400.0
    return meds.select(
        "patient_id",
        "event_id",
        F.round(delta, 6).alias("time_delta_days"),
    )


def q_canonical_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: canonical MEDS ordering made checkable — global rank over the
    (patient_id, time, event_id) total key."""
    _prep(spark)
    meds = _meds(spark, sf_dir)
    w = Window.partitionBy("patient_id").orderBy(
        F.asc_nulls_first("time"), "event_id"
    )
    return meds.select(
        "patient_id",
        "event_id",
        F.row_number().over(w).alias("rank_in_patient"),
    )


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: keep-first dedup of (patient_id, code) by (time, event_id) order."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import keep_first

    meds = _meds(spark, sf_dir)
    out = keep_first(
        meds, ["patient_id", "code"], [F.col("time"), F.col("event_id")]
    )
    return out.select("patient_id", "code", "time", "event_id")


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: diagonal concat of frames with different columns/types."""
    _prep(spark)
    from meds_polars_functions_spark.operators.merge_sort import union_by_name_relaxed

    meds = _meds(spark, sf_dir)
    a = meds.select("patient_id", "code", F.col("numeric_value").cast("float").alias("v"))
    b = meds.select("patient_id", "event_id", F.col("event_id").cast("int").alias("v"))
    out = union_by_name_relaxed([a, b])
    return out.select(
        "patient_id", "code", F.round(F.col("v").cast("double"), 6).alias("v"), "event_id"
    )


def q_tokenize_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-patient event-time schema — min time + sorted distinct times
    (epoch seconds so array hashing is engine-neutral)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.tokenization import (
        extract_statics_and_schema,
    )

    meds = _meds(spark, sf_dir).drop("event_id")
    # no static rows in events; take the schema side (join degenerates)
    dynamic = meds.filter(F.col("time").isNotNull())
    out = dynamic.groupBy("patient_id").agg(
        F.unix_micros(F.min("time")).alias("start_epoch"),
        F.array_sort(F.array_distinct(F.collect_list(F.unix_micros("time")))).alias(
            "times_epoch"
        ),
    )
    # the driver canonicalizer (pandas sort_values) cannot hash list cells;
    # serialize the sorted epoch array to a deterministic CSV string
    return out.select(
        "patient_id",
        "start_epoch",
        F.concat_ws(
            ",", F.col("times_epoch").cast("array<string>")
        ).alias("times_epoch"),
    )


def q_tokenize_event_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: doubly-nested per-patient sequences (codes per event, ordered)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.tokenization import (
        extract_seq_of_patient_events,
    )

    meds = _meds(spark, sf_dir)
    out = extract_seq_of_patient_events(
        meds, order_col="event_id", code_as_double=False, nan_fill=False
    )
    # first delta is null; sentinel -1.0 keeps the double array null-free.
    # The driver canonicalizer cannot hash list cells, so serialize both
    # nested outputs to deterministic strings: deltas as integer microdays
    # (round-6 values scaled 1e6 -> exactly integral, engine-neutral), the
    # 2-level code array as '|'-joined inner / ';'-joined outer.
    micro = F.transform(
        "time_delta_days",
        lambda d: F.round(F.coalesce(d, F.lit(-1.0)) * 1e6).cast("long").cast("string"),
    )
    return out.select(
        "patient_id",
        F.concat_ws(",", micro).alias("delta_microdays"),
        F.concat_ws(
            ";", F.transform("code", lambda c: F.concat_ws("|", c))
        ).alias("code_seq"),
    )


def q_patient_id_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct non-null patient ids across two inputs."""
    _prep(spark)
    from meds_polars_functions_spark.operators.split_patients import harvest_patient_ids

    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("patient_id"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("patient_id"))
    ids = harvest_patient_ids([ev, cust])
    return _arrow_lit(spark, [(i,) for i in ids], "patient_id long")


def q_dup_code_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: (code, patient) groups appearing more than 10 times."""
    _prep(spark)
    meds = _meds(spark, sf_dir)
    return (
        meds.groupBy("code", "patient_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 10)
    )


def q_metadata_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: merge duplicate metadata rows — ordered string-concat of
    descriptions per key (parts' names per brand)."""
    _prep(spark)
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.concat_ws(";", F.sort_array(F.collect_list("p_name"))).alias("descriptions"),
        F.count(F.lit(1)).alias("n_parts"),
    )


def q_metadata_enrich_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: full-outer join of two per-code aggregate tables with coalesce."""
    _prep(spark)
    from meds_polars_functions_spark.operators.extract_code_metadata import (
        enrich_code_metadata,
    )

    meds = _meds(spark, sf_dir)
    old = (
        meds.filter(F.col("patient_id") % 2 == 0)
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n_even"))
        .withColumn("description", F.concat(F.lit("even:"), "code"))
    )
    new = (
        meds.filter(F.col("patient_id") % 2 == 1)
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n_odd"))
        .withColumn("description", F.concat(F.lit("odd:"), "code"))
    )
    out = enrich_code_metadata(old, new)
    return out.select("code", "description", "n_even", "n_odd")


def q_code_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: '//'-joined code from literal + columns, nulls -> UNK."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import code_expr

    ev = _t(spark, sf_dir, "events")
    null_props = F.when(F.col("value") > 0.5, F.col("props"))
    return ev.select(
        "event_id",
        code_expr(["EVT", F.col("event_type"), null_props]).alias("code"),
    )


def q_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: multi-format strptime with coalesce across formats."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import multi_format_time_parse

    ev = _t(spark, sf_dir, "events")
    # render ts as two different string formats on alternating rows, then
    # parse back with the format list
    s = F.when(
        F.col("event_id") % 2 == 0, F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    ).otherwise(F.date_format("ts", "MM/dd/yyyy, HH:mm:ss"))
    parsed = multi_format_time_parse(s, ["%Y-%m-%d %H:%M:%S", "%m/%d/%Y, %H:%M:%S"])
    return ev.select("event_id", parsed.alias("parsed_ts"))


def q_typed_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: non-strict numeric coercion — unparseable strings -> null."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("props").cast("double").alias("props_num"),
        F.col("value").cast("string").alias("value_str"),
    )


def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: regex match on code-like strings."""
    _prep(spark)
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").rlike("^(ECON|PRO)") & F.col("p_name").rlike("[aeiou]{2}")
    ).select("p_partkey", "p_type", "p_name")


def q_datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: datetime part extraction + µs-precision duration arithmetic."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    diff_s = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return ev.select(
        "event_id",
        F.hour("ts").alias("h"),
        F.dayofmonth("ts").alias("dom"),
        F.month("ts").alias("mon"),
        F.round(diff_s, 6).alias("secs_since_prev"),
    )


def q_integral_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: integral-value test round(v)==v aggregated per code."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.round("value", 0) == F.col("value"), 1)).alias("n_ints"),
        F.count("value").alias("n_vals"),
    )


def q_fill_to_nans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: null/±inf -> NaN fill, surfaced as a checkable flag."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import fill_to_nans

    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") > 0.99, F.lit(float("inf"))).otherwise(
        F.when(F.col("value") < 0.01, None).otherwise(F.col("value"))
    )
    filled = fill_to_nans(v)
    return ev.select(
        "event_id",
        F.isnan(filled).alias("became_nan"),
        F.round(F.when(~F.isnan(filled), filled), 6).alias("kept_value"),
    )


def q_patient_split_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/X2: seeded patient split -> broadcast semi-join split filter.
    Split assignment is the deterministic NumPy permutation (seed 1)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.split_patients import (
        filter_to_split,
        harvest_patient_ids,
        shard_patients,
        splits_to_dataframe,
    )

    ev = _t(spark, sf_dir, "events")
    meds = ev.select(F.col("user_id").alias("patient_id"), "event_id")
    ids = harvest_patient_ids([meds])
    shards = shard_patients(ids, n_patients_per_shard=1000, seed=1)
    splits_df = splits_to_dataframe(spark, shards)
    out = filter_to_split(meds, splits_df, "train")
    # the oracle replays the seeded permutation itself (it is a pure
    # function of the sorted id set — see _patient_split_oracle_sql) and
    # checks exact train membership plus per-patient counts
    return out.groupBy("patient_id").agg(F.count(F.lit(1)).alias("n"))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the engine's flagship scan+agg."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                6,
            ).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: lineitem⨝orders⨝customer⨝nation⨝region, dims
    broadcast — with the aggregation PUSHED BELOW the fact-fact join.

    Revenue is pre-aggregated per orderkey first (partial+final hash agg,
    one exchange of compact (orderkey, rev) partials), so the
    lineitem⨝orders join probes |orders| small rows instead of shuffling
    every wide lineitem row, and the distinct-order count collapses to a
    plain count (orderkey is unique post-aggregation, and each order
    lands in exactly one nation). Identical results; measured 27.6 s →
    ~8 s at 64× sf0.1, where the naive plan's broadcast flips to a
    full-shuffle sort-merge join with a countDistinct Expand on top."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "__order_rev__"
        )
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("__order_rev__"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 highest-value orders per customer."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice"), "rk")
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per code (native
    `percentile`; the approx path is percentile_approx at scale)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native CUBE: all grouping-set combinations of (returnflag,
    linestatus) in one pass."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: quantity by returnflag × linestatus as columns."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("O"), 6).alias("qty_O"),
        F.round(F.col("F"), 6).alias("qty_F"),
    )


def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped tumbling window agg (batch-equivalent plan; the
    streaming variant adds only the watermark)."""
    _prep(spark)
    from meds_polars_functions_spark.streaming.events import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window_duration="1 hour")
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        "n_users",
        F.round("value_sum", 6).alias("value_sum"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: md5-sharded contiguous fill into 2048-token
    bins, reported as per-(shard, bin) fill stats."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return packing_stats(pack_sequences(docs, "text", "doc_id"), 2048)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate → exact dedup (keep min
    id) → deterministic hash split → per-split doc/token totals. The
    composition a 100 TB training-data pipeline actually runs, as one
    declarative plan."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import exact_dedup
    from meds_polars_functions_spark.operators.split_patients import hash_split_expr
    from meds_polars_functions_spark.operators.text import quality_filter, token_count

    docs = _t(spark, sf_dir, "documents")
    kept_ids = quality_filter(docs, "text", "doc_id", min_words=30).select("doc_id")
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    deduped = exact_dedup(kept, "text", "doc_id")
    return (
        deduped.select(
            hash_split_expr(
                "doc_id", {"train": 0.9, "validation": 0.05, "test": 0.05}
            ).alias("split"),
            token_count("text").alias("n"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("token_sum"),
        )
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture re-weighting (md5-bucket keep
    probability), summarized per source."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = mixture_sample(
        docs,
        "source",
        "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_weight=0.1,
    )
    return sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic engine-portable train/tuning/held_out assignment
    (md5-bucket map-side expression), counted per split."""
    _prep(spark)
    from meds_polars_functions_spark.operators.split_patients import hash_split_expr

    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    return (
        users.select(
            hash_split_expr(
                "user_id", {"train": 0.8, "tuning": 0.1, "held_out": 0.1}
            ).alias("split")
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_code_patients_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-patient counts per code via native HLL sketch
    (datasketches). Exact in sparse mode — which covers the oracle scale
    (cardinality ≲ 2^lgK/4 = 1024 at lgK 12), hence a full value oracle;
    ~0.4% error at higher cardinality, bounded by test_sketches."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        estimate_sketch,
        sketch_distinct,
    )

    ev = _t(spark, sf_dir, "events")
    return estimate_sketch(
        sketch_distinct(ev, ["event_type"], "user_id", "sk"), "sk", "n_users"
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: conditional-min per user (one exchange on
    user_id, partial agg map-side), then a global 2-row reduce."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.agg(
        F.count("first_signup").alias("n_signed"),
        F.count(F.when(F.col("first_purchase") > F.col("first_signup"), 1)).alias(
            "n_converted"
        ),
    )


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention: cohort = first active date per user;
    (cohort_date, day_offset) → distinct active users. Two exchanges on
    user_id (first-seen + the distinct), then agg on the tiny grid."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    activity = ev.select("user_id", F.to_date("ts").alias("active_date")).distinct()
    return (
        activity.join(first_day, "user_id")
        .groupBy(
            # ISO string: date objects round-trip differently through
            # Arrow/pandas on the two engines, strings hash identically
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
            F.datediff("active_date", "cohort_date").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_orders_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped distribution: orders per customer (zeros kept via
    left join), then histogram over the counts."""
    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (native get_json_object, JVM-side) +
    per-type stats over the extracted value."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


# --- beyond-reference: text / dedup / similarity / multimodal -------------


def q_event_user_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (pre-MEDS enrichment): left-join the event stream with a user
    dimension table; dim side broadcast."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    return (
        ev.join(F.broadcast(cust), on="user_id", how="left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )


def q_order_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/S5: attach a row index over the canonical total order, run an
    order-destroying join, then restore and verify the order by re-sorting
    on the stashed index (the reference's row-idx round-trip,
    filter_measurements.py:127-137)."""
    _prep(spark)
    from meds_polars_functions_spark.sources.readers import with_row_index

    meds = _meds(spark, sf_dir)
    idx = with_row_index(meds, order_by=["patient_id", "time", "event_id"])
    dim = meds.groupBy("code").agg(F.count(F.lit(1)).alias("code_n"))
    joined = idx.join(F.broadcast(dim), "code", "left")
    # emit the stashed index as the order witness
    return joined.select("event_id", "__row_idx__", "code_n")


def q_embedding_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matmul-formulated exact top-k (scale path) — must equal the
    expression-based brute_force_topk, and shares its oracle."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        brute_force_topk_vectorized,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk_vectorized(emb, queries, k=5, tie_round=9)
    return out.select("query_id", "vec_id", "rank")


def q_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count (dedup-then-count two-phase plan);
    must equal countDistinct for any distribution."""
    _prep(spark)
    from meds_polars_functions_spark.functions.skew import count_distinct_twophase

    ev = _t(spark, sf_dir, "events")
    return count_distinct_twophase(
        ev, ["event_type"], "user_id", out_col="n_users"
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via native session_window (30 min gap);
    identical call powers the streaming variant."""
    _prep(spark)
    from meds_polars_functions_spark.streaming.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        "first_event",
        "last_event",
        "n_events",
        F.round("value_sum", 6).alias("value_sum"),
    )


def q_reorder_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/J4: regex-class reordering made checkable — rank within
    (patient, time) after assigning each code its first-matching-class
    index ('error' class first, then 'p.*' codes, rest last)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.reorder_measurements import (
        code_order_index,
    )

    meds = _meds(spark, sf_dir)
    idx = code_order_index(meds, ["^error$", "^p"])
    w = Window.partitionBy("patient_id", "time").orderBy(
        "__order_idx__", "event_id"
    )
    return (
        meds.join(F.broadcast(idx), on="code", how="left")
        .withColumn("rank_in_event", F.row_number().over(w))
        .select("patient_id", "event_id", "code", "rank_in_event")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.text import quality_stats

    docs = _t(spark, sf_dir, "documents")
    out = quality_stats(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_chars",
        "n_words",
        "n_tokens_ws",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite quality gate over documents."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    out = quality_filter(docs, "text", "doc_id", min_words=30)
    return out.select(
        "doc_id", "n_words", F.round("stopword_ratio", 6).alias("stopword_ratio")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document (TF-IDF, deterministic ties)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "text", "doc_id", k=3)


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h window, 1h slide): each event lands
    in two windows; identical code drives the stream path."""
    _prep(spark)
    from meds_polars_functions_spark.streaming.events import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(
        ev, window_duration="2 hours", slide_duration="1 hour"
    )
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.round("value_sum", 6).alias("value_sum"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs, "text", "doc_id")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        bpe_ish_token_count("text").alias("n_tokens_bpe"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.text import portable_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", portable_fingerprint("text").alias("fingerprint"))


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus re-keyed copies of every 10th doc — the synthetic
    table has no exact duplicates, so inject deterministic ones to make
    the dedup operators do real work."""
    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(dups)


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import exact_dup_groups

    out = exact_dup_groups(_docs_with_dups(spark, sf_dir), "text", "doc_id")
    return out.select("n_dups", "canonical_id")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import exact_dedup

    out = exact_dedup(_docs_with_dups(spark, sf_dir), "text", "doc_id")
    return out.select("doc_id", "n_chars")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs >= 0.4 (posting-list join formulation)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4, shingle_n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard, portable mode:
    shingles hashed with the 60-bit md5 prefix (mod P) so DuckDB can
    replay signatures, banding (by exact band slice), and verification
    bit-for-bit — see _minhash_oracle_sql()."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import minhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    out = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5, portable=True)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report (operators/dedup.decontaminate):
    docs with doc_id %% 20 == 0 play the held-out eval set; every corpus
    doc gets its 3-gram containment ratio against the benchmark's
    broadcast shingle set and a contaminated flag at the 0.1 threshold.
    The benchmark docs themselves are 100%% contaminated by construction
    (they are in the corpus), which the oracle reproduces exactly."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(
        docs, bench, "text", "doc_id", max_contaminated_ratio=0.1, keep_report=True
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (operators/text.py
    repetition_stats): dup-line fraction, dup-line char fraction, most-
    frequent-bigram char fraction — all per-row native array algebra, no
    shuffle. Oracle replays via unnest + group-by (a sorted run in the
    Spark fold IS the full per-bigram count, so max(count×len) coincides)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id")


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: per small part, the supplier with the minimum
    observed unit price (lineitem plays partsupp: unit price =
    extendedprice/quantity). Correlated min decorrelated into a per-part
    aggregate joined back; supplier dims broadcast-enriched with nation
    and region."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    unit = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == part.p_partkey)
        .select("p_partkey", "l_suppkey",
                F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_cost"))
    )
    best = unit.groupBy("p_partkey").agg(F.min("unit_cost").alias("min_cost"))
    winners = (
        unit.join(best, "p_partkey")
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .groupBy("p_partkey")
        .agg(F.min("l_suppkey").alias("s_suppkey"), F.min("min_cost").alias("unit_cost"))
    )
    return (
        winners.join(F.broadcast(supp), "s_suppkey")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("p_partkey", "s_name", "n_name", F.round("unit_cost", 6).alias("unit_cost"))
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: per order year, revenue fraction
    supplied by nation 0's suppliers among all revenue — conditional-sum
    ratio over a 5-table star join, dims broadcast."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(F.year("o_orderdate").alias("o_year"), rev.alias("rev"),
                (F.col("s_nationkey") == 0).cast("int").alias("is_target"))
    )
    return (
        joined.groupBy("o_year")
        .agg(F.round(F.sum(F.col("rev") * F.col("is_target")) / F.sum("rev"), 6).alias("mkt_share"))
    )


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup: per supplier nation per order year,
    sum of revenue minus a retail-price cost proxy (no partsupp table;
    p_retailprice/2 × quantity substitutes ps_supplycost) for parts whose
    name contains 'a'."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 4).alias("profit"))
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose traded value (extendedprice sum over
    nation-0 suppliers) exceeds 0.2%% of that nation's total — the HAVING-
    over-scalar-subquery decorrelated into a one-row broadcast."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 0)
    vals = (
        li.join(F.broadcast(supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = vals.agg(F.sum("value").alias("__total__"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("__total__") * 0.002)
        .select("l_partkey", F.round("value", 4).alias("value"))
    )


def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct supplier count per (brand, type, size)
    for non-'Brand#1' parts, excluding negative-balance suppliers (the
    complaint filter analogue) — anti-filter broadcast, count-distinct
    after a lineitem bridge (lineitem plays partsupp)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(~F.col("p_brand").startswith("Brand#1"))
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey").distinct()
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (dedup.repeated_substring_spans,
    the window-hash approximation of Lee et al. suffix-array dedup):
    10-word windows whose portable hash appears in >= 2 distinct docs.
    Exact DuckDB replay via the same md5-60bit window hash."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import repeated_substring_spans

    docs = _t(spark, sf_dir, "documents")
    out = repeated_substring_spans(docs, "text", "doc_id", window_words=10)
    return out.select(
        F.col("id").alias("doc_id"), "start_word", "end_word", "window_hash", "n_docs"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected-components clustering over exact n-gram
    Jaccard >= 0.4 pairs (min-label propagation; oracle = recursive CTE)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4, shingle_n=3)
    return connected_components(pairs).select("id", "cluster_id")


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 100 TB near-dedup composition: MinHash-LSH candidate
    pairs (portable hash mode) -> exact-Jaccard verify -> large-star/
    small-star connected components (Kiveris et al. — O(log n) rounds
    independent of graph diameter). Label equality with min-label
    propagation is pinned by pytest; the oracle replays the minhash
    pipeline + a recursive CTE. The pair source is the LSH scale path,
    NOT the deliberately-quadratic exact posting join `dedup_clusters`
    uses as its small-scale reference."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import (
        connected_components_star,
        minhash_dedup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5, portable=True)
    return connected_components_star(pairs).select("id", "cluster_id")


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash identical-signature buckets, portable 60-bit md5-prefix word
    hash so DuckDB can reproduce the signature bit-for-bit (dedup.simhash
    portable mode)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import simhash_dup_buckets

    docs = _t(spark, sf_dir, "documents")
    return simhash_dup_buckets(docs, "text", "doc_id", bits=60, portable=True)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-dup pairs within Hamming distance 3 — a
    4×15-bit-chunk pigeonhole index over the portable 60-bit signature.
    Banding is lossless pruning (any pair at distance ≤3 agrees on ≥1
    chunk) and candidates are verified by exact Hamming count, so the
    output equals brute-force all-pairs filtering — which is exactly what
    the DuckDB oracle computes via bit_count(xor(sig_a, sig_b))."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=3, bits=60, portable=True
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 fixed query vectors — routed through
    the DEFAULT (vectorized matmul) path since round 3; the interpreted
    higher-order-function variant stays available as
    ``brute_force_topk_expression`` for plan-shape reference."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5, tie_round=9)
    return out.select("query_id", "vec_id", "rank")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.999 near-duplicate detection (ids only;
    double-precision math on both sides)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import embedding_near_dup_pairs

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    out = embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.4)
    return out.select("id_a", "id_b")


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH near-dup (scale path for
    embedding_near_dup: bucketed candidates + exact cosine verify).
    Oracle: seeded plane literals inlined into SQL, per-table bucket
    join, sequential-fold cosine verify (_embedding_near_dup_lsh_oracle_sql)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import embedding_near_dup_lsh

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    dim = len(emb.select("embedding").first()[0])
    out = embedding_near_dup_lsh(
        emb, "embedding", "vec_id", dim=dim, threshold=0.4, n_planes=6, n_tables=6
    )
    return out.select("id_a", "id_b")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN. Oracle: plane literals inlined, bucket
    equi-join, exact-cosine rank replay (_lsh_topk_oracle_sql); recall
    vs brute force is additionally tested."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, dim=dim, k=5, n_planes=8).select(
        "query_id", "vec_id", "rank"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) ANN: seeded driver-side k-means, nprobe=1.
    Training samples the full (training-scale) set sorted by vec_id, so
    centroids are a pure function of (data, seed) — the oracle replays
    the identical _kmeans_lloyd and inlines the centroids as literals
    (_ivf_topk_oracle_sql). Recall vs brute force is additionally tested."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centroids = train_ivf_centroids(
        emb, "embedding", n_centroids=8, sample_fraction=1.0, order_col="vec_id"
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, centroids, k=5).select("query_id", "vec_id", "rank")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) overlap detection: rightmost-min fingerprint
    selection over 4-gram md5-60bit hashes, window 5; pairs sharing >= 2
    selected hashes. Oracle replays selection with the identical
    left-fold rightmost-min rule (b.h <= a.h) over the same portable
    hashes."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import winnow_overlap_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, "text", "doc_id", k=4, window=5, min_shared=2)


def q_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims (seeded plane literals), then
    exact cosine top-5 IN THE PROJECTED SPACE — the
    reduce-then-search pattern. Oracle replays projection with the
    shared sequential-fold dot (_srp_dot_sql) and the rank."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        brute_force_topk_expression,
        random_projection,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    proj = random_projection(emb, "embedding", in_dim=64, out_dim=16, seed=7).select(
        "vec_id", F.col("projected").alias("embedding")
    )
    queries = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk_expression(proj, queries, k=5, tie_round=6).select(
        "query_id", "vec_id", "rank"
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement: 50 docs
    weighted by n_chars, deterministic (md5 u-draws, exponential-race
    keys, round(9) + id tiebreak)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=50, salt="s0").select(
        "doc_id", "n_chars"
    )


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.4 via prefix filtering (AllPairs/PPJoin) —
    provably identical output to ngram_jaccard, so it shares that
    oracle verbatim; only the rarest |S|-ceil(t|S|)+1 shingles per doc
    enter the posting join."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs_prefix(docs, "text", "doc_id", threshold=0.4)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-supplier graph (suppliers sharing an
    order) via degree-oriented wedge join — orientation caps per-node
    wedge fan-out at O(sqrt(E)) no matter the hub skew. Oracle counts
    the same triangles with the direct u<v<w three-way join (the
    orientation changes the execution, not the result)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    return triangle_count(pairs)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→apply round trip: learn 10 merges from the corpus
    (distributed trainer over the word-frequency table), then encode
    every distinct word with the learned merges (native fold per merge).
    Output is (word, space-joined tokens) — pure string/integer ops, so
    the oracle replays training in Python (same tie rule, proven equal
    to the Spark trainer by test_bpe_train_matches_reference) and the
    encode folds in SQL with the merges inlined."""
    _prep(spark)
    from meds_polars_functions_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, "text", n_merges=10, checkpoint_every=8)
    enc = bpe_encode(docs, "text", merges)
    return enc.select("word", F.concat_ws(" ", "syms").alias("toks"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the 'new batch' (doc_id >= 400) deduped
    against the signature INDEX of the existing corpus (doc_id < 400) —
    new×index band join only, history never re-paired. Portable hash
    mode; the oracle replays the shared minhash CTE and keeps only
    cross-split verified pairs."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_signature_table,
    )

    docs = _t(spark, sf_dir, "documents")
    old_sigs = minhash_signature_table(
        docs.filter(F.col("doc_id") < 400), "text", "doc_id", portable=True
    )
    new_sigs = minhash_signature_table(
        docs.filter(F.col("doc_id") >= 400), "text", "doc_id", portable=True
    )
    out = minhash_dedup_against_index(new_sigs, old_sigs, threshold=0.5)
    return out.select("new_id", "old_id", F.round("jaccard", 6).alias("jaccard"))


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: directed shingle-containment pairs
    |A∩B|/|A| >= 0.5 (the excerpt/quote case Jaccard misses). Runs the
    posting-join baseline; `containment_pairs_prefix` (round 4) is the
    provably-identical scale path — measured SLOWER here (5.0 vs 3.7 s
    at sf0.1 t=0.5: the rank-window overhead beats the posting savings
    on this 31-word-vocabulary corpus; its payoff needs real shingle
    diversity / higher thresholds — honest A/B in SCALE.md)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    out = containment_pairs(docs, "text", "doc_id", threshold=0.5)
    return out.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates (4×256 cells over lineitem
    supplier keys, probes = suppkey <= 10). The sketch is a mergeable
    (row, bucket, cnt) table; estimates are min-over-rows lookups. The
    oracle replays the salted md5 bucket addressing cell-for-cell."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        count_min_build,
        count_min_estimate,
    )

    li = _t(spark, sf_dir, "lineitem")
    cms = count_min_build(li, "l_suppkey", depth=4, width=256)
    probes = li.filter(F.col("l_suppkey") <= 10).select("l_suppkey").distinct()
    return count_min_estimate(cms, probes, "l_suppkey", depth=4, width=256)


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style banned-term gate: token-exact unigram + phrase hits
    (shingle membership against plan-literal arrays, zero shuffle);
    returns the drop list with counts."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import blocklist_hits

    docs = _t(spark, sf_dir, "documents")
    out = blocklist_hits(
        docs, "text", "doc_id", ["slow", "hash join", "table scan"]
    )
    return out.select(F.col("id").alias("doc_id"), "n_hits")


def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training, first exact step:
    hashed unigram+bigram features, y = (lang == 'en'), zero init.
    sigmoid(0) = 0.5 exactly, so the step is a pure rational-residual
    gradient both engines replay (bucket -1 carries the bias). lr =
    2^-8 (a power of two — the scale keeps the doubles exact)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import hashed_logreg_train

    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("double")
    )
    w, b = hashed_logreg_train(
        docs, "text", "y", "doc_id", n_buckets=64, n_iters=1, lr=2.0 ** -8
    )
    rows = [(i, float(wi)) for i, wi in enumerate(w)] + [(-1, float(b))]
    out = _arrow_lit(spark, rows, "bucket long, weight double")
    return out.select("bucket", F.round("weight", 9).alias("weight"))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: word-level gear-free CDC (boundary
    after any word whose portable hash is 0 mod 16) + cross-document
    shared-chunk counts. Oracle replays boundaries as a window prefix
    sum over the same word hashes."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import cdc_shared_chunks

    docs = _t(spark, sf_dir, "documents")
    return cdc_shared_chunks(docs, "text", "doc_id", divisor=16, min_docs=2)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011), ADC scan: 8
    subspaces x 16 centroids trained by the same deterministic
    driver-side k-means replay as ivf_topk (seed offset per subspace),
    corpus encoded map-side to 8 small ints, approximate distance = 8
    LUT lookups. Oracle inlines the replayed codebooks
    (_pq_topk_oracle_sql); recall + exact-degeneration covered by
    tests/test_similarity.py."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = train_pq_codebooks(
        emb, "embedding", dim=64, m_subspaces=8, n_centroids=16,
        sample_fraction=1.0, order_col="vec_id",
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # fused = encode + ADC + local top-k in one Arrow pass; bit-identical
    # to the expression pipeline (10x at sf0.1: 4.0 s -> 0.4 s warm)
    return pq_topk(emb, queries, books, k=5, tie_round=6, encode="fused").select(
        "query_id", "vec_id", "rank"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cell-bucketed embedding
    dedup — within-cell cosine >= 0.4 pairs -> components -> keep the
    min-id member per cluster + all unpaired vectors. Centroids are the
    same deterministic replay as ivf_topk, so the oracle inlines them."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import semantic_dedup
    from meds_polars_functions_spark.operators.similarity import train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centroids = train_ivf_centroids(
        emb, "embedding", n_centroids=8, sample_fraction=1.0, order_col="vec_id"
    )
    return semantic_dedup(emb, "embedding", "vec_id", centroids, threshold=0.4).select(
        "vec_id"
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: revenue of unshipped orders per order, top-10 via
    deterministic rank (rank witness instead of LIMIT so the
    order-insensitive hash still verifies ordering)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    revenue = (
        li.filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1995-03-15")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return (
        revenue.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue", "rk")
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan + pushed filter + single agg."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary blobs -> Arrow-batched feature UDF
    (deterministic fake decoder, oracled in SQL: the fake byte-histogram
    is pure arithmetic over UTF-8 bytes, and the corpus is ASCII)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("image")
    )
    out = extract_image_features(docs, blob_col="image", id_col="doc_id")
    # float32 feature -> exact double -> integer ten-thousandths, serialized
    # to a CSV string (driver canonicalizer cannot hash list cells); the
    # oracle replays the identical ( ... )::FLOAT::DOUBLE * 1e4 chain
    return out.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.round(x.cast("double") * 1e4).cast("long").cast("string"),
            ),
        ).alias("features"),
    )


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over synthesized PII-bearing text (docs get a per-id
    email/IP/phone suffix): chained native regexp_replace; verified by
    placeholder counts + scrubbed length."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0.1 or 555-867-5309 today"),
        ).alias("text"),
    )
    out = scrub_pii(docs, "text")
    n = lambda tok: (  # noqa: E731 — occurrences of a literal placeholder
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(tok), F.lit(""))))
        / F.length(F.lit(tok))
    ).cast("long")
    return out.select(
        "doc_id",
        F.length("text").alias("scrubbed_len"),
        n("<EMAIL>").alias("n_email"),
        n("<IP>").alias("n_ip"),
        n("<PHONE>").alias("n_phone"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (1000 chars, 100 overlap) — one
    map-side Generate; chunks reported as (id, idx, len, md5)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "text", "doc_id", chunk_chars=1000, overlap=100)
    return out.select(
        "id",
        "chunk_idx",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy (template/spam
    signal the ratio gates miss)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import unigram_entropy

    docs = _t(spark, sf_dir, "documents")
    out = unigram_entropy(docs, "text", "doc_id")
    return out.select("doc_id", F.round("entropy", 6).alias("entropy"))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score (mean token log-prob under
    the corpus's own unigram distribution) — the cheap perplexity gate."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import unigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    out = unigram_lm_score(docs, "text", "doc_id")
    return out.select("doc_id", "n_tokens", F.round("lm_score", 6).alias("lm_score"))


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM score (Brants et al. 2007): mean token
    log-score with alpha=0.4 unigram backoff — word *order* fluency, one
    context step up from the unigram gate."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    out = bigram_lm_score(docs, "text", "doc_id")
    return out.select("doc_id", "n_tokens", F.round("lm_score", 6).alias("lm_score"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed-bigram log-likelihood ratio vs the
    English subcorpus as the target domain): the data-selection score a
    pretraining pipeline resamples by."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_weights(docs, target, "text", "doc_id", n_buckets=1024)
    return out.select(
        "doc_id", "n_feats", F.round("dsir_weight", 6).alias("dsir_weight")
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed BPE inner loop at merge 0: frequency-weighted
    adjacent character-pair counts over the word-frequency table, top 20
    in deterministic (cnt desc, pair asc) order. The full trainer
    (operators/bpe.py bpe_train) iterates this + a native merge fold;
    pytest proves it equal to a pure-Python Sennrich reference."""
    _prep(spark)
    from meds_polars_functions_spark.operators.bpe import (
        init_symbol_table,
        pair_counts,
        word_freq_table,
    )

    docs = _t(spark, sf_dir, "documents")
    tab = init_symbol_table(word_freq_table(docs, "text"))
    return (
        pair_counts(tab)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


def _clf_weights(n: int = 256, seed: int = 7) -> list[float]:
    """Deterministic stand-in for offline-trained classifier weights —
    generated identically at query time and oracle-build time."""
    import numpy as np

    return np.random.default_rng(seed).uniform(-2, 2, n).tolist()


def q_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference (text.py
    hashed_linear_score): unigram+bigram md5-bucket features, mean
    bucket weight, sigmoid — entirely map-side, zero shuffle."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    out = hashed_linear_score(docs, "text", "doc_id", _clf_weights(), bias=0.1)
    return out.select("doc_id", F.round("clf_score", 6).alias("clf_score"))


def _clf_score_oracle_sql() -> str:
    w = _clf_weights()
    w_lit = "[" + ",".join(repr(float(x)) for x in w) + "]::DOUBLE[]"
    n = len(w)
    return f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents),
f AS (
  SELECT doc_id,
    list_concat(
      ws,
      CASE WHEN len(ws) >= 2 THEN
        list_transform(range(2, len(ws) + 1), i -> ws[i-1] || ' ' || ws[i])
      ELSE [] END) AS feats
  FROM d WHERE len(ws) >= 1),
s AS (
  SELECT doc_id,
    list_reduce(
      list_prepend(0.0::DOUBLE,
        list_transform(feats, g ->
          ({w_lit})[(('0x' || substr(md5(g), 1, 8))::BIGINT % {n})::INT + 1])),
      (a, b) -> a + b) / len(feats) AS mean_w
  FROM f)
SELECT doc_id, round(1.0 / (1.0 + exp(-(0.1 + mean_w))), 6) AS clf_score
FROM s
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval: score every document against a
    3-term query. Posting explode filters to the query terms BEFORE the
    shuffle; df/N/avg_len are broadcast scalars."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, ["spark", "window", "merge"], "text", "doc_id")
    return out.select("doc_id", F.round("bm25", 6).alias("bm25"))


def q_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle: each document's
    position in the md5(id||salt) permutation. The operator form
    (packing.deterministic_shuffle) range-partitions the same key so the
    permutation materializes as balanced sorted shards at 100 TB."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import shuffle_positions

    docs = _t(spark, sf_dir, "documents")
    return shuffle_positions(docs, "doc_id", salt="epoch0")


def q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized deduped corpus: exact n-gram Jaccard pairs →
    connected components → keep each cluster's min-id member + all
    unpaired docs (oracle: recursive CTE + anti-join)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import (
        near_dedup_keep_canonical,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4)
    return near_dedup_keep_canonical(docs, pairs, "doc_id").select("doc_id")


def q_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing: at most 10 docs per source, chosen
    by md5 order (engine-portable rank)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import class_balanced_sample

    docs = _t(spark, sf_dir, "documents")
    return class_balanced_sample(docs, "source", "doc_id", 10).select(
        "doc_id", "source"
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-path multimodal plumbing: typed metadata struct filtered
    map-side WITHOUT touching blobs, frame-sampling plan as a native
    sequence, Arrow-batched feature extraction over the binary column
    (deterministic fake decoder, SQL-oracled like image_features)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.multimodal import (
        extract_image_features,
        sample_frame_indices,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("audio"),
        F.struct(
            F.lit(16000).alias("sample_rate"),
            (F.length("text") * 16).cast("long").alias("n_samples"),
            F.lit("pcm").alias("format"),
        ).alias("meta"),
    )
    # metadata-only gate (≥ 0.5 s of audio) — prunes without decoding
    kept = docs.filter(F.col("meta.n_samples") >= 8000).withColumn(
        "n_frames", (F.col("meta.n_samples") / 160).cast("int")
    )
    framed = sample_frame_indices(kept, "n_frames", every_n=30)
    feats = extract_image_features(framed, blob_col="audio", id_col="doc_id")
    frames = framed.select("doc_id", F.size("frame_indices").alias("n_sampled"))
    return feats.join(frames, "doc_id").select(
        "doc_id",
        "n_sampled",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.round(x.cast("double") * 1e4).cast("long").cast("string"),
            ),
        ).alias("features"),
    )


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): each purchase gets the user's
    most recent click at-or-before it — union+window merge, ONE hash
    exchange on user_id, no pair expansion. Right side deduped to one
    click per (user, ts) (max event_id) so tie choice is deterministic
    in both engines."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import keep_first
    from meds_polars_functions_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = keep_first(
        ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
        ["user_id", "ts"],
        order_by=[F.col("event_id").desc()],
    )
    res = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["event_id"], suffix="_click"
    )
    # click_id/click_us are DOUBLE on BOTH sides (here and in the oracle):
    # they are nullable via the left asof join, so whether pandas sees
    # int64 or float64 would otherwise depend on whether the slice of data
    # happens to contain an unmatched purchase — a latent driver-hash mine
    # (round-4 dtype scan). Pinning to double makes the dtype data-independent.
    return res.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("event_id_click").cast("double").alias("click_id"),
        F.unix_micros("ts_click").cast("double").alias("click_us"),
    )


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join (operators/temporal.py): (click, purchase)
    pairs by the same user within [0, 1h] — time-bucket equi-join with
    fanout ≤ 2 per row, never a nested-loop plan."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = range_join(
        clicks, purchases, ["user_id"], "ts", "ts", 0, 3_600_000_000, suffix="_p"
    )
    return out.select(
        "user_id",
        "click_id",
        F.col("purchase_id_p").alias("purchase_id"),
        (F.unix_micros("ts_p") - F.unix_micros("ts")).alias("delta_us"),
    )


def q_bloom_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join (operators/temporal.py): lineitem rows
    of high-value orders. The bloom pass drops non-matching rows
    map-side before the shuffle; the exact semi join guarantees the
    result is identical to the plain semi join the oracle runs."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import bloom_prefilter

    li = _t(spark, sf_dir, "lineitem")
    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey")
    )
    pre = bloom_prefilter(li, "l_orderkey", keys, "o_orderkey")
    exact = pre.join(
        keys.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join (customer/orders/lineitem/
    supplier/nation/region) with the local-supplier equi-constraint.
    Dimensions broadcast; the fact table shuffles once on o_orderkey."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation
    (operators/temporal.py): null out every 5th event's value, then fill
    from the most recent non-null value of the same (user, event_type) —
    one exchange, running window, the standard EHR imputation."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import locf_impute

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("event_id") % 5 != 0, F.col("value"))
    )
    out = locf_impute(
        ev, ["user_id", "event_type"], "ts", "value", tie_cols=["event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value_filled"),
    )


def q_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via map-side top-k prune
    (functions/skew.py topk_per_group): identical result to the direct
    window (q_top_orders_per_customer) but only ≤ k rows per (group,
    partition) ever shuffle — the 100 TB formulation."""
    _prep(spark)
    from meds_polars_functions_spark.functions.skew import topk_per_group

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    out = topk_per_group(
        o, ["o_custkey"], "o_totalprice", 3, tie_cols=["o_orderkey"], rank_col="rk"
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        "rk",
    )


def q_resample_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid downsampling (operators/temporal.py): last event
    value per (user, event_type) per day — map-side bucketing + one
    (key, bucket) exchange, deterministic tie-break on event_id."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import resample_last

    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    out = resample_last(
        ev, ["user_id", "event_type"], "ts", day_us, tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros("bucket_start").alias("bucket_us"),
        "event_id",
        F.round("value", 6).alias("value"),
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/joins.py) executed on the
    batch path (withWatermark is a batch no-op, so this IS the streaming
    plan's semantics): click→purchase pairs within 1h. The watermarked
    interval bound is what keeps stream state finite at scale."""
    _prep(spark)
    from meds_polars_functions_spark.streaming.joins import stream_interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    out = stream_interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", 0, 3600
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("delta_us"),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — lineitem⋈orders⋈customer⋈supplier with TWO broadcast nation
    joins, cross-nation predicate, year extraction, conditional agg."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rev_pair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(pair | rev_pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly promo-revenue share — lineitem⋈part
    broadcast join, conditional-sum ratio, month truncation."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                100 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority that had at least one line
    shipped >60 days after the order date — EXISTS expressed as a
    LEFT SEMI join so each order is emitted once regardless of how many
    lines qualify (no dedup pass, no row explosion at scale)."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.
    The global rank runs over the ALREADY-AGGREGATED per-customer frame
    (bounded by |customers|, not |lineitem|), so the single-partition
    window is a post-reduce nit, not a scale hazard. Rank on the rounded
    revenue so cross-engine double-sum ulp noise can't reorder ties."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("rk", "c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


def q_ship_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: return flag plays ship mode): per
    l_returnflag, how many lines belong to high- vs low-priority orders
    — join + CASE-conditional counts folded into one partial agg."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over a ship
    window. The scalar max is joined back via a one-row BROADCAST
    cross-join (never a single-partition window over the fact table);
    equality tests the 6-dp rounded revenue on both engines."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx__"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx__"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines whose quantity is below half
    the part's average quantity — the correlated scalar subquery
    decorrelated into a per-part aggregate joined back on l_partkey.
    Quantities are integral doubles, so avg is bit-identical across
    engines and the boundary comparison is deterministic."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("__avg_qty__"))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("__avg_qty__"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind orders totalling >300 units —
    the HAVING filter runs on the compact per-order aggregate BEFORE any
    join, so only qualifying orderkeys (a few dozen per million) reach
    the orders/customer joins."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            F.round("o_totalprice", 6).alias("o_totalprice"),
            "sum_qty",
        )
    )


def q_brand_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs brand/size/quantity predicate across
    a lineitem⋈part broadcast join. The part-only disjuncts (brand+size)
    are pushed to the part scan; Catalyst keeps the residual mixed
    predicate above the join."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cases = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cases)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO order
    since 2000 — scalar subquery as a one-row broadcast cross-join plus
    a LEFT ANTI join (Spark's NOT EXISTS), grouped by nation."""
    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal__")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal__"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 6).alias("totacctbal"),
        )
    )


def q_moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling analytics: daily order revenue with a 7-day (ROWS-framed)
    moving average and a running cumulative total. Windows run over the
    per-day aggregate (|days| rows), not the fact table. Sums accumulate
    in integer CENTS so the running total is bit-exact cross-engine (a
    double cumsum at ~1e9 needs 16 significant digits — past double's
    ulp at 6 dp); the only float ops are final divisions, which IEEE
    makes deterministic."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(cents).alias("__cents__")
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.round(F.col("__cents__") / 100.0, 6).alias("revenue"),
        F.round(
            F.sum("__cents__").over(w7)
            / (100.0 * F.count(F.lit(1)).over(w7)),
            6,
        ).alias("ma7"),
        F.round(F.sum("__cents__").over(wcum) / 100.0, 6).alias("cum_revenue"),
    )


def q_ntile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth: quartile (ntile) and percent_rank of each
    customer's balance within their nation, totally ordered by
    (acctbal, custkey) so both engines tile identically."""
    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def q_unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native unpivot (wide→long): per-nation customer metrics melted to
    (nation, metric, value) rows with Spark's built-in ``unpivot`` —
    the inverse of q_pivot_status, map-side only above the agg."""
    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 6).alias("sum_bal"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
            F.count(F.lit(1)).cast("double").alias("n_cust"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["sum_bal", "avg_bal", "n_cust"], "metric", "value"
    )


def q_only_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to shipdate): on multi-supplier orders,
    the UNIQUE supplier whose lines shipped strictly last. The
    EXISTS/NOT-EXISTS pair is re-expressed as ONE per-(order,supplier)
    aggregate plus per-order windows over that compact frame — a single
    key exchange instead of two self-joins of the fact table."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("__s_max__")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_os.withColumn("__o_max__", F.max("__s_max__").over(w))
        .withColumn("__n_supp__", F.count(F.lit(1)).over(w))
        .withColumn(
            "__n_at_max__",
            F.sum(
                F.when(F.col("__s_max__") == F.col("__o_max__"), 1).otherwise(0)
            ).over(w),
        )
    )
    return (
        flagged.filter(
            (F.col("__n_supp__") >= 2)
            & (F.col("__n_at_max__") == 1)
            & (F.col("__s_max__") == F.col("__o_max__"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
    )


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/temporal.py streaks): maximal runs of
    consecutive active DAYS per user — distinct day grid, row_number
    island trick, one exchange shared by distinct+window+agg."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import streaks

    ev = _t(spark, sf_dir, "events")
    out = streaks(ev, ["user_id"], "ts", bucket="day")
    return out.select(
        "user_id",
        F.unix_micros(F.col("streak_start").cast("timestamp")).alias("start_us"),
        "streak_len",
    )


def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via native bitmap aggregates
    (functions/sketches.py bitmap_distinct): two narrow bitmap exchanges
    instead of a wide distinct shuffle — the zero-error, mergeable
    counterpart of the HLL path (code_patients_hll)."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import bitmap_distinct

    ev = _t(spark, sf_dir, "events")
    return bitmap_distinct(ev, ["event_type"], "user_id", "n_users")


def q_argmax_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax without a join-back or window: per nation, the customer
    holding the max balance via ``max_by`` over a (balance, custkey)
    struct — one partial-aggregating exchange; the struct tiebreak makes
    the argmax total-ordered and cross-engine deterministic."""
    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    best = F.max(F.struct("c_acctbal", "c_custkey", "c_name"))
    return (
        c.groupBy("c_nationkey")
        .agg(best.alias("__b__"))
        .select(
            "c_nationkey",
            F.col("__b__.c_custkey").alias("best_custkey"),
            F.col("__b__.c_name").alias("best_name"),
            F.round("__b__.c_acctbal", 6).alias("best_acctbal"),
        )
    )


def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median + p90 per event type (native
    ``percentile``, sort-based exact path). Complements the
    approx-sketch path (value_percentiles uses the same exact fn —
    this adds multi-quantile + count in one agg)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
        F.count(F.lit(1)).alias("n_values"),
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance-≤1 name matching WITHOUT the O(n²) cross join
    (operators/dedup.py fuzzy_pairs_ed1): SymSpell deletion-neighborhood
    blocking + native levenshtein verify. The oracle IS the quadratic
    cross join — identical output, |corpus|·len vs |corpus|² work."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import fuzzy_pairs_ed1

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_pairs_ed1(c, "c_name", "c_custkey")


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregate in ONE pass: GROUPING SETS
    ((flag,status),(flag),()) over lineitem revenue with grouping_id
    disambiguating the all-rows NULLs — Catalyst's Expand feeds a single
    shared partial agg instead of three scans."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (functions/profile.py): per-column
    nulls / exact distincts / min / max for four events columns in a
    SINGLE wide aggregate — one scan, pruned to exactly those columns."""
    _prep(spark)
    from meds_polars_functions_spark.functions.profile import profile_table

    ev = _t(spark, sf_dir, "events")
    return profile_table(ev, ["event_id", "user_id", "event_type", "value"])


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters by composition: count (event_type, user_id)
    pairs, then map-side top-k prune (functions/skew.py topk_per_group)
    for the 5 busiest users per event type — the prune runs on the
    already-compact count frame, so the global window never sees raw
    events."""
    _prep(spark)
    from meds_polars_functions_spark.functions.skew import topk_per_group

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return topk_per_group(
        counts, ["event_type"], "n_events", 5, tie_cols=["user_id"], rank_col="rk"
    )


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) over the supplier→customer trade
    graph (edges = distinct lineitem⋈orders pairs; customer ids offset
    so the two key spaces stay disjoint). Iterative; the oracle unrolls
    the 5 power iterations into chained CTEs (_pagerank_oracle_sql), and
    the numpy equivalence lives in tests/test_graph.py."""
    _prep(spark)
    from meds_polars_functions_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    out = pagerank(edges, n_iter=5)
    return out.select("node", F.round("rank", 9).alias("rank"))


def q_interpolate_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto a 6-hour grid per user
    (operators/temporal.py resample_interpolate): union obs+grid, ONE
    key exchange, running back/forward ignorenulls windows — no
    self-join, no per-point probe. Output in epoch-µs + 6-dp value; the
    oracle replicates the identical window formulation so the float ops
    are the same IEEE sequence on both engines."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import (
        resample_interpolate,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("value").isNotNull())
    )
    out = resample_interpolate(
        ev, ["user_id"], "ts", "value", step_seconds=21600, tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("grid_time").cast("timestamp")).alias("grid_us"),
        F.round("interp_value", 6).alias("interp_value"),
    )


def q_scd2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build (operators/temporal.py scd2_intervals):
    per customer, collapse the order stream into validity intervals of
    o_orderpriority — lag change-detect, running version sum, interval
    agg and lead valid_to, all in ONE exchange on the key."""
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import scd2_intervals

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"
    )
    out = scd2_intervals(
        o, ["o_custkey"], "o_orderdate", ["o_orderpriority"],
        tie_cols=["o_orderkey"],
    )
    return out.select(
        "o_custkey",
        "o_orderpriority",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("to_us"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (functions/diff.py table_diff): classify
    each orderkey across two simulated versions of orders
    (old = keys %11≠0; new = keys %13≠0 with prices bumped on %7=0) as
    added/removed/changed/unchanged — one full-outer hash join, null-
    safe comparisons in codegen."""
    _prep(spark)
    from meds_polars_functions_spark.functions.diff import table_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 11 != 0)
    new = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


def q_repeat_buyers_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native set operators: customers ordering in BOTH 1996 and 1997
    (INTERSECT) minus any who ordered in 1998 (EXCEPT) — three pruned
    scans of the same table, distinct-based set ops on a single key."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")

    def yr(y: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == y).select("o_custkey")

    return yr(1996).intersect(yr(1997)).exceptAll(yr(1998).distinct())


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers providing more than a fifth of a part's
    total volume — the correlated `> 0.2 * (SELECT sum ...)` decorrelated
    into a per-part aggregate joined back on partkey (broadcast of the
    compact per-part frame is left to AQE; both aggs share one lineitem
    scan pass each). Integral quantities keep the boundary deterministic."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("part_qty"))
    s = _t(spark, sf_dir, "supplier")
    return (
        per_ps.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") > 0.2 * F.col("part_qty"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "n_parts_dominated")
    )


def q_trailing_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware trailing window: revenue in the trailing 7
    CALENDAR days per order day via a RANGE frame over integer day
    numbers — unlike the ROWS frame in moving_avg_revenue, missing days
    shrink the frame instead of silently stretching it. Integer-cents
    accumulation keeps sums bit-exact cross-engine."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = o.groupBy(
        (F.unix_micros(F.date_trunc("day", "o_orderdate").cast("timestamp"))
         / F.lit(86_400_000_000)).cast("long").alias("day_num")
    ).agg(F.sum(cents).alias("__cents__"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day_num",
        F.round(F.col("__cents__") / 100.0, 6).alias("revenue"),
        F.round(F.sum("__cents__").over(w) / 100.0, 6).alias("trailing7"),
        F.count(F.lit(1)).over(w).alias("days_in_frame"),
    )


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: fraction of its distinct word 5-grams no
    earlier doc contains (memorization-risk signal). Exchange carries
    (xxhash64, id) pairs only; oracle groups by the shingle string
    itself (equal absent 64-bit collisions)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import novelty_scores

    docs = _t(spark, sf_dir, "documents")
    return novelty_scores(docs, "text", "doc_id", shingle_n=5).withColumnRenamed(
        "id", "doc_id"
    )


def q_winsorize_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile winsorization composed from the mergeable histogram
    sketch: clamp l_extendedprice per returnflag to the [0.05, 0.95]
    binned-quantile bounds (broadcast back, map-side clamp); output the
    per-flag clamped aggregate."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import winsorize_by_quantile

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    out = winsorize_by_quantile(
        li, "l_extendedprice", ["l_returnflag"],
        q_lo=0.05, q_hi=0.95, lo=0.0, hi=120_000.0, n_bins=1200,
        out_col="clamped",
    )
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("clamped"), 4).alias("sum_clamped"),
    )


def q_code_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-code OLS trend of numeric_value over time (days since
    2020-01-01 — centered near the data so the nΣxx − (Σx)² cancellation
    keeps ~full double precision): one partial-agg pass of additive
    sufficient statistics, closed-form finish (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import grouped_ols_trend

    epoch_2020_us = 1_577_836_800_000_000
    meds = _meds(spark, sf_dir).select(
        "code",
        ((F.unix_micros("time") - F.lit(epoch_2020_us)) / 86_400_000_000.0).alias(
            "x_days"
        ),
        "numeric_value",
    )
    return grouped_ols_trend(meds, ["code"], "x_days", "numeric_value")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table of event_type per user
    (lag window keyed by user, deterministic (ts, event_id) order),
    row-normalized (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", ["ts", "event_id"], "event_type")


def q_code_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI over event-type co-occurrence within (user, hour) baskets:
    pairs generated map-side inside each basket (sorted distinct-item
    array), marginals broadcast — never a basket×basket join
    (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import code_cooccurrence_pmi

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    )
    return code_cooccurrence_pmi(ev, ["user_id", "hour"], "event_type")


def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation pipeline end-to-end AT ORACLE GRADE:
    quality gate → corpus-wide span dedup (20-word tiles, keep-first)
    → alpha=0.5 temperature mixture over lang → per-lang doc/token
    totals. Four operator families composed in one declarative plan,
    hash-verified against a chained-CTE DuckDB replay."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import span_dedup
    from meds_polars_functions_spark.operators.packing import temperature_mixture
    from meds_polars_functions_spark.operators.text import quality_filter, token_count

    docs = _t(spark, sf_dir, "documents")
    # Stage cuts (round 15, guide §5; persist → lazy localCheckpoint in
    # round 16, ADVICE r15 cache-lifetime class): the downstream
    # operators each reference their input TWICE (span_dedup: winner
    # election + rewrite join; temperature_mixture: source counts +
    # keep-rate join), so the lazily composed pipeline replayed the
    # quality-stats Arrow UDF 12× and the span tiling 4× (42-Exchange
    # before-plan). Checkpointing the id-only gate output (light: one
    # long per kept doc) and the deduplicated stage output bounds every
    # subtree to one execution — same operators, same rows, 12
    # ArrowEvalPython → 1 — without leaving CacheManager entries behind
    # in a long-lived session.
    kept_ids = quality_filter(docs, "text", "doc_id", min_words=30).select(
        "doc_id"
    ).localCheckpoint(eager=False)
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    sd = span_dedup(kept, "text", "doc_id", span_words=20).localCheckpoint(eager=False)
    mixed = temperature_mixture(sd, "lang", "doc_id", alpha=0.5)
    return (
        mixed.select("lang", token_count("text").alias("n"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("token_sum"))
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of lang x source + Cramér's V: one count
    agg, marginals from window sums over the cell table, zero-observed
    cells folded in closed form (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import chi_square_independence

    docs = _t(spark, sf_dir, "documents")
    return chi_square_independence(docs, "lang", "source")


def q_drift_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/serve drift check: binned KS + PSI between returned
    (l_returnflag='R') and non-returned lineitem price distributions
    per linestatus — both sides reduce to fixed-size cell tables
    independently, the comparison touches only cells
    (functions/sketches.py binned_drift_metrics)."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        binned_drift_metrics,
        binned_histogram,
    )

    li = _t(spark, sf_dir, "lineitem")
    ha = binned_histogram(
        li.filter(F.col("l_returnflag") == "R"),
        "l_extendedprice", ["l_linestatus"], lo=0.0, hi=120_000.0, n_bins=120,
    )
    hb = binned_histogram(
        li.filter(F.col("l_returnflag") != "R"),
        "l_extendedprice", ["l_linestatus"], lo=0.0, hi=120_000.0, n_bins=120,
    )
    return binned_drift_metrics(ha, hb, ["l_linestatus"])


def q_code_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology rollup over the '//'-joined MEDS code hierarchy
    (EVT//<type>//<props-or-UNK> built by code_expr): every prefix
    level aggregated in one depth-bounded map-side explode + one
    partial-agg groupBy (operators/aggregate_code_metadata.py
    code_hierarchy_rollup)."""
    _prep(spark)
    from meds_polars_functions_spark.functions.expr import code_expr
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        code_hierarchy_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    null_props = F.when(F.col("value") > 0.5, F.col("props"))
    coded = ev.select(
        code_expr(["EVT", F.col("event_type"), null_props]).alias("code"),
        "value",
    )
    out = code_hierarchy_rollup(coded, "code", value_col="value")
    return out.select(
        "code_prefix", "level", "n", "n_codes", F.round("value_sum", 4).alias("value_sum")
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numerics in ONE
    aggregation pass — all sums/sumsqs/cross-products as parallel
    aggregates over a single scan (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling mean/std/min/max over the 7 PRECEDING events
    (leakage-free frame) + lag-1, one window exchange
    (operators/features.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.features import rolling_features

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_features(ev, "user_id", ["ts", "event_id"], "value", window_rows=7)
    return out.select(
        "event_id",
        "value_roll_n",
        "value_roll_mean",
        "value_roll_std",
        "value_roll_min",
        "value_roll_max",
        "value_lag1",
    )


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of event_type against
    value — window-keyed category sums, broadcast global mean, no join
    back (operators/features.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.features import target_encode_loo

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = target_encode_loo(ev, "event_type", "value", smoothing=20.0)
    return out.select("event_id", "event_type", "event_type_te")


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-linestatus Welch t of extendedprice, returnflag R vs N —
    one-pass additive sufficient statistics, closed-form t and
    Welch-Satterthwaite df (operators/stats.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.stats import grouped_welch_ttest

    li = _t(spark, sf_dir, "lineitem")
    return grouped_welch_ttest(
        li, ["l_linestatus"], "l_returnflag", "l_extendedprice", "R", "N"
    )


def q_incremental_code_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at driver grade: aggregate two PATIENT-DISJOINT shards (parity
    split) independently, reduce with merge_pre_aggregated (union +
    sum/min/max re-agg — the reference's reducer,
    aggregate_code_metadata.py:522-548), and the result must equal the
    one-shot aggregation the oracle computes. Patient-disjointness is
    what makes the distinct-patient counts algebraic across shards —
    the same contract the reference's patient-sharded layout enforces."""
    _prep(spark)
    from meds_polars_functions_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
        merge_pre_aggregated,
    )

    meds = _meds(spark, sf_dir).drop("event_id")
    shard_a = aggregate_code_metadata(meds.filter(F.col("patient_id") % 2 == 0))
    shard_b = aggregate_code_metadata(meds.filter(F.col("patient_id") % 2 == 1))
    out = merge_pre_aggregated([shard_a, shard_b])
    return out.select(
        "code",
        "code/n_patients",
        "code/n_occurrences",
        "values/n_patients",
        "values/n_occurrences",
        "values/n_ints",
        F.round("values/sum", 6).alias("values/sum"),
        F.round("values/sum_sqd", 6).alias("values/sum_sqd"),
        F.round("values/min", 6).alias("values/min"),
        F.round("values/max", 6).alias("values/max"),
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact span dedup (Lee et al. 2022 span granularity /
    C4 line-dedup): 20-word tiles, keep-first by (doc_id, idx), docs
    reassembled from surviving spans; fully-duplicated docs drop. Span
    text crosses the wire once (operators/dedup.py span_dedup)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.dedup import span_dedup

    docs = _t(spark, sf_dir, "documents")
    out = span_dedup(docs, "text", "doc_id", span_words=20)
    return out.select("doc_id", "text")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (most-frequent
    neighbor label, ties -> smallest; 3 iterations) over the
    supplier-customer trade graph — communities for corpus/domain
    grouping. Oracle unrolls the 3 rounds as chained CTEs."""
    _prep(spark)
    from meds_polars_functions_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, n_iter=3)


def q_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable binned-histogram quantiles of l_extendedprice per
    returnflag (width-100 bins on [0, 120000)): the deterministic,
    engine-portable alternative to approx_percentile — one histogram
    pass over the fact table, quantiles from the tiny cell table."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        binned_histogram,
        binned_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    hist = binned_histogram(
        li, "l_extendedprice", ["l_returnflag"], lo=0.0, hi=120_000.0, n_bins=1200
    )
    out = binned_quantiles(
        hist, [0.25, 0.5, 0.75, 0.9, 0.99], ["l_returnflag"],
        lo=0.0, hi=120_000.0, n_bins=1200,
    )
    return out.select("l_returnflag", "q", "est")


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std of the embedding table via Arrow partial
    (count, sum, sumsq) folds — exchange carries partitions x dims
    cells, independent of row count (operators/similarity.py)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import embedding_dim_stats

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_dim_stats(emb, "embedding")
    return out.select(F.col("dim").cast("long").alias("dim"), "n", "mean", "std")


def q_standardize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-then-apply z-scoring: dim stats broadcast back as one-row
    mu/sigma arrays, transform is a native zip_with chain (no explode,
    no UDF on the big side). Output is per-vector z-sum/z-norm so the
    comparator sees scalars."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        embedding_dim_stats,
        standardize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    stats = embedding_dim_stats(emb, "embedding")
    z = standardize_embeddings(emb, "embedding", stats, out_col="z")
    zsum = F.aggregate("z", F.lit(0.0), lambda a, x: a + x)
    zss = F.aggregate("z", F.lit(0.0), lambda a, x: a + x * x)
    return z.select(
        "vec_id",
        F.round(zsum, 6).alias("z_sum"),
        F.round(zss, 6).alias("z_sumsq"),
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.5 temperature resampling over the skewed lang column
    (mBERT/XLM-R alpha-sampling): adaptive per-source keep-rates from
    one tiny count agg, broadcast back; md5-bucket keep decision — the
    adaptive sibling of mixture_sample."""
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "lang", "doc_id", alpha=0.5)
    return out.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Round-6 registered additions — staged through rounds 5 (registry
# freeze, VERDICT r4 item 4), registered in round 6 after the rotation
# cleared the driver-grade debt (VERDICT r5 item 2).
# ---------------------------------------------------------------------------


def q_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score (d=0.75): mean
    token log-prob under the corpus's own KN-smoothed bigram model —
    continuation-probability smoothing, the KenLM-family upgrade over
    the stupid-backoff scorer (operators/text.py kneser_ney_lm_score)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.text import kneser_ney_lm_score

    docs = _t(spark, sf_dir, "documents")
    out = kneser_ney_lm_score(docs, "text", "doc_id")
    return out.select(
        "doc_id", "n_tokens", F.round("lm_score", 6).alias("lm_score")
    )


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=4, 3 iterations, seeded hash init)
    over the embeddings table, verified by an INVARIANT oracle
    (VERDICT r5 item 3 — upgraded from the staged rows-only contract).

    The iterative float-sum order cannot be replayed bit-exactly in
    sequential SQL, so the query emits falsifiable model invariants as
    (metric, value) rows, each of which the hash-compared oracle pins:

    - ``all_nearest_frac`` = 1.0: distributed argmin replay — every
      vector's assigned cell is its nearest final centroid (assignment
      distance <= array_min of all centroid distances + 1e-9), computed
      from a fresh ``_cell_distances`` expression, one corpus pass.
    - ``assigned_rows`` = count(*) of embeddings: coverage — every
      vector got exactly one cell (oracle recomputes the count).
    - ``inertia_monotone`` = 1.0: the recorded Lloyd inertia history is
      non-increasing (rel. tol 1e-9) INCLUDING one extra update step
      from the final centroids (phi(c_final) <= phi(c_last_assign) —
      the classic Lloyd descent property, falsified by any wrong
      centroid-update arithmetic).
    - ``centroids_finite`` = 1.0: no NaN/inf leaked into the model.
    - ``k_centroids`` = 4.0: the model kept all k centroids.

    Partitioning-robust by construction (tolerances absorb float-sum
    reassociation), so the driver's own session/partitioning cannot
    flip a row; any real trainer defect (wrong sums, dropped cells,
    NaN poisoning, broken argmin) flips at least one value and fails
    the hash compare."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        _cell_distances,
        ivf_assign,
        kmeans_train_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents, hist = kmeans_train_distributed(
        emb, "v", k=4, n_iters=3, seed=42, id_col="vec_id"
    )
    finite = all(
        all(x == x and abs(x) != float("inf") for x in c) for c in cents
    )
    # phi(c_final) = sum of min squared distance to the FINAL centroids —
    # folded into the SAME single corpus pass as the argmin replay below
    # (ADVICE r7 item 2: the previous form ran a whole extra Lloyd
    # iteration — init collect + assignment + kxd update — to read one
    # scalar off its history). The distance array is projected ONCE
    # (__ds__) so the interpreted HOF is not re-evaluated per reference.
    assigned = ivf_assign(emb, "v", cents, out_col="cell").select(
        "cell", _cell_distances("v", cents).alias("__ds__")
    )
    agg = (
        assigned.select(
            F.when(
                F.element_at(F.col("__ds__"), F.col("cell").cast("int") + 1)
                <= F.array_min("__ds__") + F.lit(1e-9),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("ok"),
            F.array_min("__ds__").alias("mind"),
        )
        .agg(
            F.avg("ok").alias("frac"),
            F.count(F.lit(1)).alias("n"),
            F.sum("mind").alias("phi"),
        )
        .collect()[0]
    )
    # Lloyd descent including one extra update step: phi(c_final) <=
    # phi(c_last_assign) = hist[-1]; same invariant the extra-iteration
    # form pinned, now from the assignment-only aggregation.
    seq = [*hist, float(agg["phi"])]
    monotone = all(
        seq[i] + 1e-9 * max(1.0, abs(seq[i])) >= seq[i + 1]
        for i in range(len(seq) - 1)
    )
    rows = [
        ("all_nearest_frac", float(agg["frac"])),
        ("assigned_rows", float(agg["n"])),
        ("centroids_finite", 1.0 if finite else 0.0),
        ("inertia_monotone", 1.0 if monotone else 0.0),
        ("k_centroids", float(len(cents))),
    ]
    return _arrow_lit(spark, rows, "metric string, value double").orderBy(
        "metric"
    )


def q_pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED round 8: PQ-ADC shortlist → exact-cosine re-rank, the
    standard two-stage compressed-ANN pattern (Jegou et al. 2011 §V.A:
    quantized codes answer "who is close", raw vectors answer "in what
    order"). Same deterministic codebook replay as q_pq_topk; the ADC
    scan keeps the 20 best candidates per query (rank by rounded
    approx_d, vec_id tie), then ONLY those 160 rows are re-scored with
    exact cosine against the raw corpus vectors (round 9: the bounded
    shortlist ids are isin-pushed into the raw scan, so at 100 TB only
    the row groups holding shortlisted vectors are READ — the raw table
    is neither scanned nor shuffled). Exercises pq_topk's ``rerank=``
    path (the two-stage branch
    of ``operators.similarity.pq_topk``) at oracle grade. Staged in
    round 8 behind the pre-committed ledger; REGISTERED round 9 with a
    window slot and the sf0.01 oracle default (COVERAGE.md round-9
    ledger), exactly the path the round-5 staged pair took in round 6."""
    _prep(spark)
    from meds_polars_functions_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = train_pq_codebooks(
        emb, "embedding", dim=64, m_subspaces=8, n_centroids=16,
        sample_fraction=1.0, order_col="vec_id",
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(
        emb, queries, books, k=5, tie_round=6, rerank=20
    ).select("query_id", "vec_id", "rank")


def _pq_topk_rerank_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    dim: int = 64,
    m: int = 8,
    n_centroids: int = 16,
    k: int = 5,
    rerank: int = 20,
) -> str | None:
    """DuckDB replay of q_pq_topk_rerank: the _pq_topk_oracle_sql ADC
    pipeline (same codebook replay, same strict-< encode tie rule, same
    round-6 approx distance) truncated at rank <= rerank, then exact
    cosine on the shortlist with the same round-6 tie grid and the
    (cos DESC, vec_id) rank Spark's re-rank window uses. Cosine mirrors
    the registered embedding_topk oracle's list_sum form (driver-green
    at round 9 grid since r3; round 6 here is coarser still)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from meds_polars_functions_spark.operators.similarity import _kmeans_lloyd

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    sub = dim // m
    books = [
        _kmeans_lloyd(
            np.ascontiguousarray(sample[:, j * sub : (j + 1) * sub]),
            n_centroids,
            seed=42 + j,
            n_iters=5,
        )
        for j in range(m)
    ]

    def dist(vec: str, c: list[float]) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {sub + 1}), "
            f"i -> ({vec}[i] - ({lit})[i]) * ({vec}[i] - ({lit})[i]))), (a, b) -> a + b)"
        )

    slices = ", ".join(
        f"list_slice(v, {j * sub + 1}, {(j + 1) * sub}) AS s{j}" for j in range(m)
    )
    ds_arrays = ", ".join(
        "[" + ", ".join(dist(f"s{j}", c) for c in books[j]) + f"] AS ds{j}"
        for j in range(m)
    )
    bests = ", ".join(
        f"list_reduce(ds{j}, (a, b) -> least(a, b)) AS b{j}" for j in range(m)
    )
    cells = ", ".join(
        "(CASE "
        + " ".join(f"WHEN ds{j}[{i + 1}] = b{j} THEN {i}" for i in range(n_centroids))
        + f" END)::INT AS c{j}"
        for j in range(m)
    )
    approx = " + ".join(f"q.ds{j}[c.c{j} + 1]" for j in range(m))
    ds_cols = ", ".join(f"ds{j}" for j in range(m))
    c_cols = ", ".join(f"c{j}" for j in range(m))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
sv AS (SELECT vec_id, {slices} FROM e),
d AS (SELECT vec_id, {ds_arrays} FROM sv),
b AS (SELECT *, {bests} FROM d),
enc AS (SELECT vec_id, {cells} FROM b),
q AS (SELECT vec_id AS query_id, {ds_cols} FROM d WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id, round({approx}, 6) AS approx_d
  FROM (SELECT vec_id, {c_cols} FROM enc) c
  CROSS JOIN q),
shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_d ASC, vec_id) AS r
    FROM scored) WHERE r <= {rerank}),
qv AS (SELECT vec_id AS query_id, v AS qvec,
              sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
       FROM e WHERE vec_id < 8),
ex AS (
  SELECT s.query_id, s.vec_id,
    round(list_sum(list_transform(range(1, len(e.v) + 1),
                                  i -> qv.qvec[i] * e.v[i]))
          / (qv.qn * sqrt(list_sum(list_transform(e.v, x -> x * x)))),
          6) AS cos
  FROM shortlist s
  JOIN e ON e.vec_id = s.vec_id
  JOIN qv ON qv.query_id = s.query_id),
reranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM ex)
SELECT query_id, vec_id, rank::INT AS rank FROM reranked WHERE rank <= {k}
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval — multi-query BM25 top-20
    (operators.retrieval.bm25_topk) and exact-cosine top-20 (the
    registered embedding_topk path) fused by reciprocal-rank fusion
    (operators.retrieval.rrf_fuse, Cormack et al. 2009), top-10 per
    query. The two testdata tables share the 0-499 id domain, so the
    fusion is over one corpus: 4 fixed query docs contribute their
    first 6 tokens as the lexical bag and their embedding row as the
    semantic query. Beyond-reference (no retrieval surface in the
    reference). Staged round 9, REGISTERED round 10 with window slot 1
    (COVERAGE.md round-10 ledger, registry 168 → 169)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.retrieval import bm25_topk, rrf_fuse
    from meds_polars_functions_spark.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TEXT.words(F.col("text"))
    qt = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"), F.slice(toks, 1, 6).alias("terms")
    )
    lex = bm25_topk(docs, qt, k=20, tie_round=6)

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = brute_force_topk(emb, qv, k=20, tie_round=9).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = rrf_fuse(
        [lex.select("query_id", "doc_id", "rank"), sem],
        k=10, rrf_k=60, tie_round=9,
    )
    return fused.select("query_id", "doc_id", "rrf", "rank")


#: DuckDB replay of q_hybrid_search: the bm25_search oracle's scorer
#: generalized per-query (terms = first 6 tokens of docs 0-3, DISTINCT
#: within a bag like bm25_topk), ::DOUBLE literals so every float op is
#: the same double op Spark executes; the embedding_topk oracle's cosine
#: (round 9) cut at rank 20; RRF contributions 1/(60+rank) summed (two
#: lists -> one commutative double add, bit-exact), round 9, ranked by
#: (rrf desc, doc_id). Static SQL — reads only the registered views.
_HYBRID_SEARCH_ORACLE_SQL = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents),
qt AS (SELECT DISTINCT doc_id AS query_id, unnest(ws[1:6]) AS t
       FROM d WHERE doc_id < 4),
lens AS (SELECT doc_id, len(ws) AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS N, avg(dl) AS avg_dl FROM lens),
tok AS (SELECT doc_id, unnest(ws) AS t FROM d),
tf AS (
  SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok
  WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, t),
dfreq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY t),
sc AS (
  SELECT doc_id, t,
    ln(1.0::DOUBLE + (N - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
      * (tf * 2.2::DOUBLE)
      / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                             + 0.75::DOUBLE * dl / avg_dl)) AS s
  FROM tf JOIN dfreq USING (t) JOIN lens USING (doc_id) CROSS JOIN stats),
lexs AS (
  SELECT qt.query_id, sc.doc_id, round(sum(s), 6) AS bm25
  FROM sc JOIN qt USING (t) GROUP BY qt.query_id, sc.doc_id),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id) AS rank
  FROM lexs QUALIFY rank <= 20),
emb2 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
    sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
  FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
       FROM emb2 WHERE vec_id < 4),
semsc AS (
  SELECT q.query_id, e.vec_id AS doc_id,
    round(list_sum(list_transform(range(1, len(e.v) + 1),
                                  i -> q.qvec[i] * e.v[i]))
          / (q.qn * e.nrm), 9) AS cos
  FROM qv q CROSS JOIN emb2 e),
sem AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id) AS rank
  FROM semsc QUALIFY rank <= 20),
contrib AS (
  SELECT query_id, doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank) AS c FROM lex
  UNION ALL
  SELECT query_id, doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank) AS c FROM sem),
fused AS (
  SELECT query_id, doc_id, round(sum(c), 9) AS rrf
  FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused)
SELECT query_id, doc_id, rrf, rank::INT AS rank FROM ranked WHERE rank <= 10
"""


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 10, REGISTERED round 10 by explicit mid-round ledger
    amendment (COVERAGE.md; registry 169 → 170, window slot 1):
    maximal-marginal-relevance diversified top-k
    (operators.retrieval.mmr_rerank, Carbonell & Goldstein SIGIR 1998)
    over exact-cosine top-20 candidates — the standard post-retrieval
    diversification stage, composing with the round-10-registered
    hybrid_search family. 4 fixed query embeddings (vec_id < 4), rel =
    cosine round 9 (the embedding_topk grid), lambda=0.7, k=5; pairwise
    candidate sims are JVM-side sequential-fold cosine round 9; the
    greedy selection runs per query group in one Arrow-batched
    applyInPandas over the bounded n_cand^2 pair rows. Beyond-reference
    (no retrieval surface in the reference)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.retrieval import mmr_rerank
    from meds_polars_functions_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        # native array cast (round 16, guide §4.1): F.transform(...,
        # cast) is CodegenFallback — interpreted per element over every
        # corpus vector; cast("array<double>") is the same elementwise
        # float->double Cast, codegen'd, bit-identical output
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = brute_force_topk(emb, qv, k=20, tie_round=9).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("cosine").alias("score"),
    )
    return mmr_rerank(cand, emb, k=5, lam=0.7, tie_round=9)


def _mmr_topk_oracle_sql(k: int = 5, n_cand: int = 20, lam: str = "0.7") -> str:
    """DuckDB replay of q_mmr_topk: the embedding_topk cosine (round 9)
    cut at rank 20 gives the candidates; the greedy MMR selection is
    UNROLLED as k chained CTEs — step i computes round(lam*rel -
    (1-lam)*max_{s in sel} sim, 9) over the not-yet-selected candidates
    (all float ops the same doubles Spark's greedy stage executes on the
    same already-rounded inputs) and picks (mmr desc, doc_id asc).
    Static SQL — reads only the registered views."""
    steps = []
    for i in range(2, k + 1):
        steps.append(f""",
m{i} AS (
  SELECT c.query_id, c.doc_id,
    round({lam}::DOUBLE * c.rel - (1.0::DOUBLE - {lam}::DOUBLE) * pen.p, 9) AS mmr
  FROM cand c
  JOIN (SELECT s.query_id, s.da AS doc_id, max(s.s) AS p
        FROM sim s JOIN sel{i - 1} t
          ON t.query_id = s.query_id AND t.doc_id = s.db
        GROUP BY s.query_id, s.da) pen
    ON pen.query_id = c.query_id AND pen.doc_id = c.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)),
p{i} AS (
  SELECT query_id, doc_id, mmr, {i}::INT AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, doc_id) AS rn
    FROM m{i}) WHERE rn = 1),
sel{i} AS (SELECT query_id, doc_id FROM sel{i - 1}
           UNION ALL SELECT query_id, doc_id FROM p{i})""")
    union = "\nUNION ALL ".join(
        f"SELECT query_id, doc_id, mmr, rank FROM p{i}" for i in range(1, k + 1)
    )
    return f"""
WITH emb2 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
    sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
  FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
       FROM emb2 WHERE vec_id < 4),
relsc AS (
  SELECT q.query_id, e.vec_id AS doc_id,
    round(list_sum(list_transform(range(1, len(e.v) + 1),
                                  i -> q.qvec[i] * e.v[i]))
          / (q.qn * e.nrm), 9) AS rel
  FROM qv q CROSS JOIN emb2 e),
cand AS (
  SELECT query_id, doc_id, rel FROM (
    SELECT query_id, doc_id, rel,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, doc_id) AS rnk
    FROM relsc) WHERE rnk <= {n_cand}),
ce AS (SELECT c.query_id, c.doc_id, e.v, e.nrm
       FROM cand c JOIN emb2 e ON e.vec_id = c.doc_id),
sim AS (
  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
    round(list_sum(list_transform(range(1, len(a.v) + 1),
                                  i -> a.v[i] * b.v[i]))
          / (a.nrm * b.nrm), 9) AS s
  FROM ce a JOIN ce b
    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
m1 AS (
  SELECT query_id, doc_id,
    round({lam}::DOUBLE * rel - (1.0::DOUBLE - {lam}::DOUBLE) * 0.0::DOUBLE, 9) AS mmr
  FROM cand),
p1 AS (
  SELECT query_id, doc_id, mmr, 1::INT AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, doc_id) AS rn
    FROM m1) WHERE rn = 1),
sel1 AS (SELECT query_id, doc_id FROM p1){"".join(steps)}
{union}
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000  # 6 hours


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 10 (session 2), REGISTERED round 11 with window
    slot 1 (COVERAGE.md round-11 ledger): windowed event-funnel analytics
    (operators.funnel.window_funnel + funnel_counts) — per-user max
    ordered-step chain view → click → purchase with strictly increasing
    timestamps and span <= 6 h, reduced to users-reaching-step counts.
    The existential (exactly verifiable) form of ClickHouse's
    windowFunnel; entirely JVM-side — the per-user DP is k-1 chained
    strict-prefix range-frame window maxima over ONE user_id exchange,
    no Python UDF. Beyond-reference (no behavioral-analytics surface in
    the reference). At sf0.001 the funnel is 15 → 14 → 1 users and the
    6 h window binds (W=24 h gives 15/15/8), so the oracle is
    falsifiable on both the ordering and the window constraints.
    Distinct from the REGISTERED `funnel_conversion`, which is a
    windowless signup→purchase 2-row count (no chain, no window, no
    per-step levels)."""
    _prep(spark)
    from meds_polars_functions_spark.operators.funnel import (
        funnel_counts,
        window_funnel,
    )

    ev = _t(spark, sf_dir, "events")
    lv = window_funnel(ev, _FUNNEL_STEPS, window=_FUNNEL_WINDOW_US)
    return funnel_counts(lv, _FUNNEL_STEPS).orderBy("step")


#: DuckDB replay of q_window_funnel from the DEFINITION: level >= L iff a
#: strictly-increasing chain of the first L step types exists with span
#: <= W — expressed as 1/2/3-way self-joins on epoch_us (the same µs
#: truncation _t applies on the Spark side), then the spine counts.
_WINDOW_FUNNEL_ORACLE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tu, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
u AS (SELECT DISTINCT user_id FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON a.user_id = b.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND b.tu > a.tu AND b.tu - a.tu <= {_FUNNEL_WINDOW_US}),
l3 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON a.user_id = b.user_id
           JOIN e c ON a.user_id = c.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND c.event_type = 'purchase'
    AND b.tu > a.tu AND c.tu > b.tu
    AND c.tu - a.tu <= {_FUNNEL_WINDOW_US}),
lv AS (
  SELECT u.user_id,
         CASE WHEN l3.user_id IS NOT NULL THEN 3
              WHEN l2.user_id IS NOT NULL THEN 2
              WHEN l1.user_id IS NOT NULL THEN 1
              ELSE 0 END AS lvl
  FROM u LEFT JOIN l1 ON l1.user_id = u.user_id
         LEFT JOIN l2 ON l2.user_id = u.user_id
         LEFT JOIN l3 ON l3.user_id = u.user_id),
spine AS (SELECT * FROM (VALUES
  (1, 'view'), (2, 'click'), (3, 'purchase')) t(step, step_name))
SELECT s.step::INT AS step, s.step_name AS step_name,
       (SELECT count(*) FROM lv WHERE lv.lvl >= s.step)::BIGINT AS users
FROM spine s
ORDER BY step
"""


def q_monthly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 10 (session 2), REGISTERED round 11 with window
    slot 2 (COVERAGE.md round-11 ledger): monthly retention-cohort matrix
    (operators.cohorts.retention_cohorts) over the ORDERS table —
    customers bucketed by the calendar month of their first order,
    counted once per active month at each month offset.

    Relationship to the REGISTERED `retention_cohort` (daily, events
    table, distinct-activity ⋈ first-seen join plan): different period
    arithmetic (calendar months — Jan 31 → Feb 1 is offset 1, which no
    day-grid can express), different corpus (orders spans ~7 years →
    51 real cohorts × 1845 cells at sf0.01, where events is
    cohort-degenerate), and a different physical plan — ONE
    groupBy(custkey) computes min(month) + collect_set(month) together
    (distinct active months per customer are inherently tiny), map-side
    explode, tiny groupBy(cohort, offset): TWO exchanges, NO
    corpus-keyed join (the registered plan's join shuffles the activity
    table twice). The scale-path upgrade of the family, staged as its
    own query."""
    _prep(spark)
    from meds_polars_functions_spark.operators.cohorts import retention_cohorts

    orders = _t(spark, sf_dir, "orders")
    return retention_cohorts(
        orders, user_col="o_custkey", ts_col="o_orderdate", period="month"
    ).orderBy("cohort", "period_offset")


#: DuckDB replay of q_monthly_retention from the definition: distinct
#: (customer, year*12+month) pairs, per-customer min as the cohort,
#: count per (cohort, offset). Pure integer month arithmetic — no
#: truncation-grid dependence at all.
_MONTHLY_RETENTION_ORACLE_SQL = """
WITH w AS (
  SELECT DISTINCT o_custkey,
         (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS pd
  FROM orders),
c AS (SELECT o_custkey, min(pd) AS cohort FROM w GROUP BY o_custkey)
SELECT c.cohort AS cohort,
       (w.pd - c.cohort)::INT AS period_offset,
       count(*)::BIGINT AS users
FROM w JOIN c ON w.o_custkey = c.o_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


_ATTR_GAP_US = 6 * 3600 * 1_000_000  # 6-hour session gap (the events
# table spans 30 days: 6 h yields real multi-event sessions — a 30-min
# gap makes ~95% of conversions session-opening singletons)
_ATTR_CONVERSION = "purchase"


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 11, REGISTERED round 12 (window slot 1, COVERAGE.md
    round-12 ledger): sessionized first/last-touch conversion
    attribution (operators.attribution.touch_attribution) — events
    gap-sessionized per user (6 h, (ts, event_id) tie order), one
    conversion per converting session (the first 'purchase' in session
    order), first-touch credit to the session-opening channel and
    last-touch credit to the channel immediately before the conversion,
    '(direct)' when the purchase opens its session. Integer-only
    row-number logic — the DuckDB oracle replays it exactly.
    Beyond-reference (no behavioral-analytics surface in the
    reference). Registry audit (the standing rule): nearest registered
    names are `sessionize` (session AGGREGATES — start/end/count/sum,
    no per-event ids, no attribution) and the funnel/retention rows
    (level chains / cohort matrices — no channel credit); no registered
    name within edit distance 2. At sf0.001 all five channels plus
    '(direct)' earn credit and the first-touch and last-touch
    distributions differ, so the oracle is falsifiable on the touch
    choice; the falsifiability test also proves the gap binds."""
    _prep(spark)
    from meds_polars_functions_spark.operators.attribution import touch_attribution

    ev = _t(spark, sf_dir, "events")
    return touch_attribution(
        ev, gap=_ATTR_GAP_US, conversion=_ATTR_CONVERSION
    ).orderBy("channel")


#: DuckDB replay of q_touch_attribution from the DEFINITION: the same
#: gaps-and-islands session ids ((tu, eid) order, new session when the
#: gap strictly exceeds 6 h), the same first-conversion position, the
#: same rn=1 / rn=fprn-1 touch picks. Integer-only — no float grids.
#: The closing channel join is IS NOT DISTINCT FROM (ADVICE r12 item
#: 3): Spark's groupBy treats NULL channels as one group, so the oracle
#: must too — `=` would split a null channel into two rows if the data
#: ever grew null event types (latent-only today: the synthetic events
#: table has none).
_TOUCH_ATTRIBUTION_ORACLE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tu, event_id AS eid, event_type
  FROM events),
g AS (
  SELECT *, CASE WHEN lag(tu) OVER w IS NULL
                   OR tu - lag(tu) OVER w > {_ATTR_GAP_US}
            THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, eid)),
s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tu, eid
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY tu, eid) AS rn
  FROM s),
f AS (
  SELECT *, min(CASE WHEN event_type = '{_ATTR_CONVERSION}' THEN rn END)
              OVER (PARTITION BY user_id, sid) AS fprn
  FROM r),
p AS (
  SELECT user_id, sid, min(fprn) AS fp,
         max(CASE WHEN rn = 1 THEN event_type END) AS t1,
         max(CASE WHEN rn = fprn - 1 THEN event_type END) AS tl
  FROM f WHERE fprn IS NOT NULL GROUP BY user_id, sid),
c AS (
  SELECT CASE WHEN fp = 1 THEN '(direct)' ELSE t1 END AS first_touch,
         CASE WHEN fp = 1 THEN '(direct)' ELSE tl END AS last_touch
  FROM p),
ft AS (SELECT first_touch AS channel, count(*) AS n FROM c GROUP BY 1),
lt AS (SELECT last_touch AS channel, count(*) AS n FROM c GROUP BY 1)
SELECT coalesce(ft.channel, lt.channel) AS channel,
       coalesce(ft.n, 0)::BIGINT AS first_touch_conversions,
       coalesce(lt.n, 0)::BIGINT AS last_touch_conversions
FROM ft FULL OUTER JOIN lt ON ft.channel IS NOT DISTINCT FROM lt.channel
ORDER BY channel
"""


_PATHS_MAX_STEPS = 5
_PATHS_TOP_K = 20


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 11 (addendum — second behavioral staging, the r10
    session-2 precedent), REGISTERED round 12 (window slot 2,
    COVERAGE.md round-12 ledger): top-20 session journeys
    (operators.attribution.session_paths) — events gap-sessionized per
    user (6 h, (ts, event_id) tie order, shared with touch_attribution),
    each session's first 5 event types joined with '>', counted across
    sessions, ordered (sessions DESC, path). Registry audit (standing
    rule): nearest registered names are `event_transitions` (a GLOBAL
    consecutive-pair Markov matrix per user — no session boundaries, no
    whole journeys), `tokenize_event_seqs` (MEDS training-sequence
    tokenization), and `sessionize` (session aggregates); no name
    within edit distance 2. At sf0.001 the top-20 spans 1-to-5-step
    paths with real count structure, the 5-step cap binds, and path
    ORDER binds (a sorted-multiset grouping differs), so the oracle is
    falsifiable on the cap and the ordering."""
    _prep(spark)
    from meds_polars_functions_spark.operators.attribution import session_paths

    ev = _t(spark, sf_dir, "events")
    return session_paths(
        ev, gap=_ATTR_GAP_US, max_steps=_PATHS_MAX_STEPS, top_k=_PATHS_TOP_K
    )


#: DuckDB replay of q_session_paths from the DEFINITION: identical
#: gaps-and-islands session ids, identical (tu, eid) in-session order,
#: ordered string_agg over the first max_steps rows, same
#: (sessions DESC, path) tie order and LIMIT. Integer/string-only.
_SESSION_PATHS_ORACLE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tu, event_id AS eid, event_type
  FROM events),
g AS (
  SELECT *, CASE WHEN lag(tu) OVER w IS NULL
                   OR tu - lag(tu) OVER w > {_ATTR_GAP_US}
            THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, eid)),
s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tu, eid
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY tu, eid) AS rn
  FROM s),
p AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= {_PATHS_MAX_STEPS} GROUP BY user_id, sid)
SELECT path, count(*)::BIGINT AS sessions
FROM p GROUP BY path
ORDER BY sessions DESC, path
LIMIT {_PATHS_TOP_K}
"""


_PROFILE_PERCENTILES = (0.5, 0.9, 0.99)
_PROFILE_ACCURACY = 100  # eps = 1/100 rank error: a REAL approximation
# regime at sf0.01 (n ~ 2000/group -> +-20-rank window), so rank_ok is
# a live check, not a vacuous exact-path replay


def q_approx_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 12, REGISTERED round 13 (window slot 1, registry
    174 -> 176): approximate-percentile latency profile
    (operators.profiles) — per event type, the native
    ``percentile_approx`` (Greenwald-Khanna mergeable sketch, accuracy
    100) at p50/p90/p99 over ``events.value``, verified by an INVARIANT
    oracle (the kmeans_cells precedent — the sketch's interior answers
    are engine-specific, so the query emits falsifiable invariants as
    ``(event_type, metric, value)`` rows):

    - ``n``: the group's non-null count (sketch coverage) — the oracle
      recomputes it from the raw table.
    - ``p0`` / ``p100``: the sketch's answers at percentile 0.0/1.0,
      which a correct GK summary returns EXACTLY (the extreme samples
      are always retained) — the oracle recomputes min/max.
    - ``rank_ok_p50``/``rank_ok_p90``/``rank_ok_p99`` = 1.0: the GK
      rank guarantee — the returned value's exact rank interval
      (one conditional-count pass) intersects
      ``ceil(p*n) +- (ceil(n/accuracy) + 1)``; any sketch defect that
      hands back a value from outside the guarantee window flips the
      row (the falsifiability test swaps p99's answer into p50's row).

    Registry audit (the standing rule): nearest registered names are
    ``value_percentiles`` and ``group_median`` (EXACT interpolated
    percentiles — native ``percentile``, per-group sort, no sketch),
    ``binned_quantiles`` (deterministic fixed-width-histogram quantiles
    on lineitem — resolution pinned to the bin grid, not a GK summary)
    and ``profile_events`` (a schema/stats profile, no quantiles); no
    registered name within edit distance 2. This row is the missing
    SKETCH member of that family — the only one whose state is
    partial-mergeable across shards at O(1/eps log eps*n), i.e. the
    100 TB path (VERDICT r11 item 4's named candidate).
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.profiles import (
        approx_percentile_profile,
        verify_percentile_profile,
    )

    ev = _t(spark, sf_dir, "events")
    ps = [0.0, *_PROFILE_PERCENTILES, 1.0]
    prof = approx_percentile_profile(
        ev, "value", ["event_type"], ps, accuracy=_PROFILE_ACCURACY
    )
    ver = verify_percentile_profile(
        ev, prof, "value", ["event_type"], accuracy=_PROFILE_ACCURACY
    )
    # Unpivot to the invariant rows the oracle replays. p0/p100 emit
    # their (exact-by-guarantee) VALUES; interior percentiles emit the
    # rank_ok flag; n once per group (off the p=0.0 row).
    is_p0 = F.col("percentile") == 0.0
    is_p100 = F.col("percentile") == 1.0
    pct_tag = F.concat(
        F.lit("rank_ok_p"),
        F.round(F.col("percentile") * 100).cast("int").cast("string"),
    )
    rows = ver.select(
        F.col("event_type"),
        F.explode(
            F.when(
                is_p0,
                F.array(
                    F.struct(
                        F.lit("p0").alias("metric"),
                        F.col("approx_value").alias("value"),
                    ),
                    F.struct(
                        F.lit("n").alias("metric"),
                        F.col("n").cast("double").alias("value"),
                    ),
                ),
            )
            .when(
                is_p100,
                F.array(
                    F.struct(
                        F.lit("p100").alias("metric"),
                        F.col("approx_value").alias("value"),
                    )
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        pct_tag.alias("metric"),
                        F.col("rank_ok").cast("double").alias("value"),
                    )
                )
            )
        ).alias("__m"),
    )
    return rows.select(
        "event_type", F.col("__m.metric").alias("metric"), F.col("__m.value").alias("value")
    ).orderBy("event_type", "metric")


_BITEMPORAL_AS_OF = "1999-01-01"  # audit instant K: mid-corpus, so both
# failure modes are live at every SF — late-recorded versions near K are
# invisible AND post-K facts must fall back to older versions


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 12 (second staging — the r10/r11 two-staging
    cadence), REGISTERED round 13 (window slot 2, registry 174 -> 176):
    bitemporal point-in-time audit join
    (operators.temporal.bitemporal_asof_join) — a synthetic bitemporal
    dimension built from orders (one version per order: key o_custkey,
    business validity valid_from = o_orderdate, knowledge time
    recorded_at = o_orderdate + (o_orderkey % 30) days — deterministic
    late arrival, version id o_orderkey, value o_totalprice), probed by
    the orders themselves as facts: for each order, the customer's
    dimension version valid at the order date AS KNOWN on the audit
    instant K = 1999-01-01 — greatest (valid_from, recorded_at, ver)
    among {valid_from <= t, recorded_at <= K}. Left-outer: post-K facts
    whose customer has no pre-K-recorded version get nulls.

    The "reproduce the training set as we believed it on date K" join —
    the point-in-time-correctness primitive of feature generation
    (leakage-proof labels against late-arriving/corrected dims).
    Integer/timestamp-only pick logic — the DuckDB oracle replays it
    exactly (known_ver cast ::DOUBLE on BOTH sides: it is nullable
    through the left join, the asof_purchase_click dtype precedent).

    Registry audit (the standing rule): nearest registered names are
    `asof_purchase_click` (plain 1-D as-of: one time axis, no knowledge
    dimension, no corrections), `scd2_priority` (BUILDS validity
    intervals from a change stream — no audit axis, no probe), and
    `stream_interval_join`/`range_join_events` (bounded-window pair
    joins); no name within edit distance 2. This row adds the missing
    SECOND time axis: the same dimension row set answers differently
    under different audit instants.
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.temporal import (
        bitemporal_asof_join,
    )

    o = _t(spark, sf_dir, "orders")
    dim = o.select(
        F.col("o_custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.expr(
            "o_orderdate + make_dt_interval(cast(o_orderkey % 30 as int), 0, 0, 0)"
        ).alias("recorded_at"),
        F.col("o_orderkey").alias("ver"),
        F.col("o_totalprice").alias("val"),
    )
    facts = o.select("o_orderkey", "o_custkey", "o_orderdate")
    res = bitemporal_asof_join(
        facts,
        dim,
        on=["o_custkey"],
        fact_time="o_orderdate",
        valid_from="valid_from",
        recorded_at="recorded_at",
        as_of=F.to_timestamp(F.lit(_BITEMPORAL_AS_OF)),
        value_cols=["val", "ver"],
        dim_tie_cols=["ver"],
        suffix="",
    )
    # Timestamps emitted as-is (the sessionize precedent — driver-green
    # with raw timestamp outputs): the comparator isoformats both
    # sides; the pandas ns-vs-us RESOLUTION skew is a toPandas
    # artifact, not a dtype class (see _strict_compare_staged).
    return res.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("valid_from").alias("known_from"),
        F.col("recorded_at").alias("known_rec"),
        F.col("val").alias("known_total"),
        F.col("ver").cast("double").alias("known_ver"),
    ).orderBy("o_orderkey")


#: DuckDB replay of q_bitemporal_asof from the DEFINITION: the same
#: synthetic dimension, the same knowledge cut at K, the same greatest-
#: (valid_from, recorded_at, ver) pick via an ordered LATERAL LIMIT 1.
_BITEMPORAL_ASOF_ORACLE_SQL = f"""
WITH dim AS (
  SELECT o_custkey AS k, o_orderdate AS vf,
         o_orderdate + INTERVAL (o_orderkey % 30) DAY AS ra,
         o_orderkey AS ver, o_totalprice AS val
  FROM orders),
snap AS (SELECT * FROM dim WHERE ra <= TIMESTAMP '{_BITEMPORAL_AS_OF}'),
f AS (SELECT o_orderkey, o_custkey AS k, o_orderdate AS t FROM orders)
SELECT f.o_orderkey, f.k AS o_custkey, f.t AS o_orderdate,
       p.vf AS known_from, p.ra AS known_rec,
       p.val AS known_total, p.ver::DOUBLE AS known_ver
FROM f LEFT JOIN LATERAL (
  SELECT vf, ra, val, ver FROM snap s
  WHERE s.k = f.k AND s.vf <= f.t
  ORDER BY s.vf DESC, s.ra DESC, s.ver DESC LIMIT 1) p ON TRUE
ORDER BY o_orderkey
"""


#: Invariant oracle (the kmeans_cells precedent): n/p0/p100 are
#: data-derived recomputes; the rank_ok_* rows pin the GK guarantee of
#: a correct sketch at 1.0. See q_approx_percentile_profile.
_APPROX_PERCENTILE_PROFILE_ORACLE_SQL = """
WITH g AS (
  SELECT event_type, count(value)::DOUBLE AS n,
         min(value) AS mn, max(value) AS mx
  FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT event_type, metric, value FROM (
  SELECT event_type, 'n' AS metric, n AS value FROM g
  UNION ALL SELECT event_type, 'p0', mn FROM g
  UNION ALL SELECT event_type, 'p100', mx FROM g
  UNION ALL SELECT event_type, 'rank_ok_p50', 1.0 FROM g
  UNION ALL SELECT event_type, 'rank_ok_p90', 1.0 FROM g
  UNION ALL SELECT event_type, 'rank_ok_p99', 1.0 FROM g
) ORDER BY event_type, metric
"""


#: Edge-window width for the round-13 staged overlap pair. The obvious
#: half/half split is DEGENERATE on the synthetic events (every user
#: hits every type in both halves -> jaccard 1.0 everywhere, so a broken
#: intersection could never flip a row); the first-2-days vs last-2-days
#: audiences overlap PARTIALLY (0 < n_inter < n_union) for every group
#: at all three SFs — measured before staging, pinned by the
#: falsifiability test.
_AUDIENCE_WINDOW_DAYS = 2
_AUDIENCE_WINDOW_US = _AUDIENCE_WINDOW_DAYS * 86_400_000_000


def _audience_sides(spark: SparkSession, sf_dir: str):
    """Shared side-builder for the round-13 staged overlap pair: side A
    = events in the FIRST ``_AUDIENCE_WINDOW_DAYS`` days of the
    observation window, side B = the LAST. Integer-µs bounds — exact
    and engine-portable — computed as a one-row aggregate and broadcast
    (the house crossJoin-of-1-row rule; never a driver collect).
    Returns (tagged, early, late); ``tagged`` keeps the in-window flags
    for the exact-recompute path."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_micros(F.col("ts")).alias("__us__")
    )
    bounds = ev.agg(
        F.min("__us__").alias("__lo__"), F.max("__us__").alias("__hi__")
    )
    w = F.lit(_AUDIENCE_WINDOW_US)
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "user_id",
        (F.col("__us__") < F.col("__lo__") + w).alias("__in_a__"),
        (F.col("__us__") >= F.col("__hi__") - w).alias("__in_b__"),
    )
    early = tagged.filter("__in_a__")
    late = tagged.filter("__in_b__")
    return tagged, early, late


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 1, registry
    176 -> 182): EXACT grouped audience-overlap join
    (functions.sketches.bitmap_overlap) — per event type, the distinct
    users active in the FIRST 2 days of the observation window vs the
    LAST 2 days (edge windows, not halves: the half split is jaccard-
    degenerate on this corpus — see _AUDIENCE_WINDOW_DAYS):
    ``(event_type, n_early, n_late, n_union, n_inter,
    jaccard)`` with the intersection by inclusion-exclusion over
    FILTER-ed native bitmap aggregates. The retention-overlap /
    cross-corpus-contamination primitive in its zero-error,
    strictly-SQL-oracle-checkable form (VERDICT r12 item 3's named
    "grouped sketch join" candidate).

    100 TB shape: keys address map-side to (bucket, bit); ONE hash
    exchange on (group, bucket) builds the A/B/all bitmaps with
    map-side partial combine (4 KB state per populated cell, never a
    key-pair expansion); the closing exchange carries only popcount
    longs. Zero Python, zero SortMergeJoin — the only join anywhere is
    the broadcast of the 1-row cutoff aggregate.

    Registry audit (the standing rule): ``bitmap_distinct_users`` /
    ``code_patients_hll`` are SINGLE-population distinct counts (no
    second corpus, no intersection); ``ngram_jaccard`` /
    ``jaccard_prefix`` / ``near_dedup`` are document-shingle
    similarity (pairs of documents, not set algebra over grouped user
    populations); ``retention_cohort``/``monthly_retention`` are
    cohort-by-offset activity matrices (counts per (cohort, period),
    never a set intersection between two corpora). No registered name
    within edit distance 2 of ``audience_overlap``.
    """
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        bitmap_overlap_flags,
    )

    tagged, _, _ = _audience_sides(spark, sf_dir)
    # single-pass flagged form: both memberships come from ONE scan of
    # events (the two-sided API would plan the tagged subtree twice —
    # the round-13 executed-plan audit read 4 scans; this one reads 2:
    # the window-bounds aggregate + the data pass)
    out = bitmap_overlap_flags(
        tagged, ["event_type"], "user_id", "__in_a__", "__in_b__"
    )
    return out.select(
        "event_type",
        F.col("n_a").alias("n_early"),
        F.col("n_b").alias("n_late"),
        "n_union",
        "n_inter",
        "jaccard",
    ).orderBy("event_type")


#: DuckDB replay of q_audience_overlap from the DEFINITION: same
#: integer-µs first/last edge windows (in_a: us < lo + W, in_b:
#: us >= hi - W, W = _AUDIENCE_WINDOW_US — no division anywhere),
#: per-(type, user) side membership, inclusion-exclusion closes
#: to the same BIGINT counts and round-9 jaccard.
_AUDIENCE_OVERLAP_ORACLE_SQL = f"""
WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us FROM events),
c AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
m AS (
  SELECT event_type, user_id,
         max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_b
  FROM e, c GROUP BY event_type, user_id
  HAVING max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1
      OR max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1)
SELECT event_type,
  sum(in_a)::BIGINT AS n_early,
  sum(in_b)::BIGINT AS n_late,
  count(*)::BIGINT AS n_union,
  sum(in_a * in_b)::BIGINT AS n_inter,
  round(sum(in_a * in_b)::DOUBLE / count(*), 9) AS jaccard
FROM m GROUP BY event_type ORDER BY event_type
"""


#: HLL per-term tolerance for the invariant flags: sparse-mode sketches
#: (group cardinality <= 2^12/4) are EXACT, which covers sf0.001/0.01
#: outright; at sf0.1 the ~1500-user groups sit just past sparse, where
#: the lgK-12 std error is ~1.6% per term — 5% is a >3-sigma envelope
#: per term, 15%-of-union for the 3-term intersection compound.
_HLL_OVERLAP_TOL = 0.05
_HLL_OVERLAP_INTER_TOL = 0.15


def q_hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 2, registry
    176 -> 182) — second staging, the standing two-staging
    cadence: the grouped HLL sketch JOIN
    (functions.sketches.hll_overlap / hll_overlap_from_sketches) on the
    same early/late audience split as ``q_audience_overlap`` — the
    100 TB path where the overlap of two corpora is computed from their
    metadata-sized per-group sketch tables instead of the raw rows.

    HLL estimates are engine-specific (DataSketches registers), so per
    the kmeans_cells/approx_percentile_profile precedent the query
    emits an INVARIANT row per event type:

    - ``n_early_exact`` / ``n_late_exact`` / ``n_union_exact`` /
      ``n_inter_exact``: the exact overlap recomputed Spark-side from
      one (type, user) membership pass — the oracle recomputes them
      definitionally in DuckDB (full value coverage, BIGINT).
    - ``est_within_tol`` = 1.0: every per-term sketch estimate (A, B,
      union) within ``_HLL_OVERLAP_TOL`` of its exact value — a broken
      sketch build, union, or register merge flips the row.
    - ``inter_bounded`` = 1.0: the estimated intersection is
      non-negative, <= min(side estimates), and within
      ``_HLL_OVERLAP_INTER_TOL`` of union of the exact intersection —
      the inclusion-exclusion identity holds through the sketch.

    Falsifiability is pinned in tests/test_sketches.py: the same flags
    computed from a deliberately-degraded sketch (lgK 4) flip to 0.0 on
    a high-cardinality corpus.

    Registry audit: differs from ``audience_overlap`` (exact bitmap
    twin staged alongside — this row proves the SKETCH path and its
    merge law), from ``code_patients_hll`` (single-population HLL
    estimate, no join/intersection), and from ``kmeans_cells`` /
    ``approx_percentile_profile`` only in sharing the invariant-oracle
    STYLE. No registered name within edit distance 2.
    """
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        hll_overlap_flags,
    )

    tagged, _, _ = _audience_sides(spark, sf_dir)
    # single-pass flagged form (identical estimates — HLL register
    # state depends only on each side's value SET): one corpus pass
    # with map-side partial sketches instead of two side subtrees
    est = hll_overlap_flags(
        tagged, ["event_type"], "user_id", "__in_a__", "__in_b__"
    )

    member = (
        tagged.groupBy("event_type", "user_id")
        .agg(
            F.max(F.col("__in_a__").cast("int")).alias("in_a"),
            F.max(F.col("__in_b__").cast("int")).alias("in_b"),
        )
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
    )
    exact = member.groupBy("event_type").agg(
        F.sum("in_a").alias("__xa__"),
        F.sum("in_b").alias("__xb__"),
        F.count(F.lit(1)).alias("__xu__"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("__xi__"),
    )
    j = est.join(F.broadcast(exact), "event_type")
    tol = F.lit(_HLL_OVERLAP_TOL)
    within = (
        (F.abs(F.col("n_a") - F.col("__xa__")) <= tol * F.col("__xa__"))
        & (F.abs(F.col("n_b") - F.col("__xb__")) <= tol * F.col("__xb__"))
        & (F.abs(F.col("n_union") - F.col("__xu__")) <= tol * F.col("__xu__"))
    )
    bounded = (
        (F.col("n_inter") >= 0)
        & (F.col("n_inter") <= F.least(F.col("n_a"), F.col("n_b")))
        & (
            F.abs(F.col("n_inter") - F.col("__xi__"))
            <= F.lit(_HLL_OVERLAP_INTER_TOL) * F.col("__xu__")
        )
    )
    return j.select(
        "event_type",
        F.col("__xa__").cast("long").alias("n_early_exact"),
        F.col("__xb__").cast("long").alias("n_late_exact"),
        F.col("__xu__").cast("long").alias("n_union_exact"),
        F.col("__xi__").cast("long").alias("n_inter_exact"),
        within.cast("double").alias("est_within_tol"),
        bounded.cast("double").alias("inter_bounded"),
    ).orderBy("event_type")


#: Invariant oracle (kmeans_cells precedent): the four exact overlap
#: counts are data-derived recomputes; the two flags pin a correct
#: sketch join at 1.0. See q_hll_user_overlap.
_HLL_USER_OVERLAP_ORACLE_SQL = f"""
WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us FROM events),
c AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
m AS (
  SELECT event_type, user_id,
         max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_b
  FROM e, c GROUP BY event_type, user_id
  HAVING max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1
      OR max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1)
SELECT event_type,
  sum(in_a)::BIGINT AS n_early_exact,
  sum(in_b)::BIGINT AS n_late_exact,
  count(*)::BIGINT AS n_union_exact,
  sum(in_a * in_b)::BIGINT AS n_inter_exact,
  1.0::DOUBLE AS est_within_tol,
  1.0::DOUBLE AS inter_bounded
FROM m GROUP BY event_type ORDER BY event_type
"""


_STRATIFIED_FRACTION = 0.05
_STRATIFIED_MIN = 3
_STRATIFIED_SALT = "r13"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 3, registry
    176 -> 182) — second staged family, the r10-session-2
    double-staging precedent: deterministic PROPORTIONAL stratified
    sampling (operators.packing.stratified_sample) — every event type
    contributes exactly ``max(ceil(0.05 * n_s), min(3, n_s))`` events,
    chosen by engine-portable md5 order of (event_id, salt). The
    corpus-downsampling contract that PRESERVES the strata mix while
    bounding volume (per-source/per-language budgets), vs the
    registered ``class_balanced`` which FLATTENS it (fixed 10 per
    class) — the two allocations are the named distinction in the
    operator docstring, and the falsifiability test pins that the
    per-stratum targets here actually track stratum sizes.

    Registry audit (the standing rule): ``class_balanced`` (fixed-n
    md5 balancing), ``mixture_sample`` (per-source Bernoulli rates —
    row counts are binomial, not exact), ``weighted_sample`` (global
    weighted race), ``hash_split`` (partition assignment, not
    sampling), ``temperature_mixture`` (rate computation, no rows
    picked). None computes exact proportional per-stratum targets. No
    registered name within edit distance 2 of ``stratified_sample``.
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import stratified_sample

    ev = _t(spark, sf_dir, "events")
    out = stratified_sample(
        ev,
        ["event_type"],
        "event_id",
        _STRATIFIED_FRACTION,
        salt=_STRATIFIED_SALT,
        min_per_stratum=_STRATIFIED_MIN,
    )
    return out.select("event_id", "event_type", "user_id").orderBy("event_id")


#: DuckDB replay of q_stratified_sample from the DEFINITION: the same
#: per-stratum ceil(fraction*n) floor-at-min target and the same md5
#: rank (md5(event_id || salt), event_id tiebreak).
_STRATIFIED_SAMPLE_ORACLE_SQL = f"""
WITH t AS (
  SELECT event_type,
         greatest(ceil(count(*) * {_STRATIFIED_FRACTION}),
                  least(count(*), {_STRATIFIED_MIN}))::BIGINT AS k
  FROM events GROUP BY event_type),
r AS (
  SELECT event_id, event_type, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(event_id::VARCHAR || '{_STRATIFIED_SALT}'), event_id
         ) AS rn
  FROM events)
SELECT r.event_id, r.event_type, r.user_id
FROM r JOIN t USING (event_type) WHERE r.rn <= t.k
ORDER BY r.event_id
"""


_WGS_K = 12
_WGS_SALT = "w13"


def q_weighted_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 4, registry
    176 -> 182; second member of the sampling pair): per-group
    weighted sampling without replacement
    (operators.packing.weighted_group_sample) — the Efraimidis-Spirakis
    exponential race of the registered ``weighted_sample`` run INSIDE
    each event type: 12 events per type, weighted by ``value``, md5
    u-draws, ``-ln(u)/w`` race keys, round(9) + id tiebreak, zero- and
    negative-weight rows excluded (key = +inf never wins).

    Registry audit: ``weighted_sample`` is the GLOBAL race (one winner
    set; a heavy group can monopolize it — the falsifiability test
    pins that the grouped winners differ from the global top-k
    restricted to each group, i.e. the partitioned race genuinely
    changes who wins); ``class_balanced``/``stratified_sample`` are
    UNWEIGHTED md5 ranks; ``topk_pruned`` ranks by a data column, not
    a race key. No registered name within edit distance 2.
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.packing import (
        weighted_group_sample,
    )

    ev = _t(spark, sf_dir, "events")
    out = weighted_group_sample(
        ev, ["event_type"], "event_id", "value", k=_WGS_K, salt=_WGS_SALT
    )
    return out.select("event_id", "event_type", "value").orderBy("event_id")


#: DuckDB replay of q_weighted_group_sample: the weighted_sample oracle
#: idiom (same md5 u-draw, exponential-race key, round(9) + id
#: tiebreak) with the race PARTITIONED by event_type.
_WEIGHTED_GROUP_SAMPLE_ORACLE_SQL = f"""
WITH s AS (
  SELECT event_id, event_type, value,
    round(-ln(((('0x' || substr(md5(event_id::VARCHAR || ':{_WGS_SALT}'), 1, 15))::BIGINT
                % 2147483647) + 1)::DOUBLE / 2147483648.0) / value, 9) AS sk
  FROM events WHERE value > 0 AND NOT isnan(value)),
r AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY sk, event_id) AS rn
  FROM s)
SELECT event_id, event_type, value FROM r WHERE rn <= {_WGS_K}
ORDER BY event_id
"""


#: Unroll depth for the k-core oracle: the H-iteration reaches its
#: fixpoint in 1/3/5 changing rounds at sf0.001/0.01/0.1 (measured; the
#: +1 confirmation round is Spark-side only), so 10 unrolled rounds
#: hold 4+ rounds of headroom at every tested SF. The Spark side runs
#: to the TRUE fixpoint (early stop), which equals any >=fixpoint-depth
#: unroll by idempotence of the H-operator at its fixpoint.
_KCORE_ORACLE_ROUNDS = 10


def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 5, registry
    176 -> 182) — third staged family: graph axis growth, a
    VERDICT r12 candidate list member: EXACT k-core decomposition of
    the supplier-customer trade graph (operators.graph
    k_core_decomposition) — coreness per node via the distributed
    H-index fixpoint iteration (Lü et al. 2016), the standard
    "dense-engagement tier" signal for corpus/domain pruning (drop
    low-core periphery, keep the dense core).

    FULL-VALUE strict oracle (not invariant-style): the H-iteration
    from degree init is unrollable — the DuckDB replay chains
    ``_KCORE_ORACLE_ROUNDS`` join+rank rounds (the label_propagation
    unrolled-CTE precedent), which exceeds the measured fixpoint depth
    at every SF, and the fixpoint is idempotent, so exact (node,
    coreness) equality is checkable. Brute-force peeling equality and
    the corruption-flip falsifiability live in tests/test_graph.py.

    Registry audit (the standing rule): ``pagerank_trade`` (importance
    scores, float power iteration), ``label_propagation``
    (communities, argmax label rule), ``triangles`` (closed-triple
    counting), ``dedup_clusters``/``semantic_dedup`` (connected
    components — coreness is NOT a component id: components answer
    "connected at all", coreness answers "how densely embedded"). No
    registered name within edit distance 2 of ``kcore_trade``.
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.graph import (
        k_core_decomposition,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    return k_core_decomposition(edges).orderBy("node")


def _kcore_oracle_sql(rounds: int = _KCORE_ORACLE_ROUNDS) -> str:
    """DuckDB replay of q_kcore_trade from the DEFINITION: same trade
    edges, same degree init, ``rounds`` unrolled H-index rounds (rank
    neighbors by value desc, H = max(least(rank, value)))."""
    parts = [
        """WITH e0 AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 10000000 AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
und AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
c0 AS (SELECT s AS node, count(*)::BIGINT AS c FROM und GROUP BY s)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT u.s AS node,
         least(c.c, row_number() OVER (PARTITION BY u.s
                                       ORDER BY c.c DESC, u.d)) AS h
  FROM und u JOIN c{i - 1} c ON c.node = u.d),
c{i} AS (SELECT node, max(h)::BIGINT AS c FROM r{i} GROUP BY node)"""
        )
    parts.append(
        f"""
SELECT node, c AS coreness FROM c{rounds} ORDER BY node"""
    )
    return "".join(parts)


_STRESS_N_SOURCES = 4
_STRESS_SALT = "bc13"
#: Forward-BFS unroll depth: the sampled eccentricity is 3/4/4 at
#: sf0.001/0.01/0.1 (measured before staging), so 6 layers hold
#: headroom; deeper layers are empty on both engines.
_STRESS_DEPTH = 6


def q_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged round 13, REGISTERED round 14 (window slot 6, registry
    176 -> 182) — fourth staged family: the centrality member of
    the graph axis; VERDICT r12's candidate lists name
    "betweenness-sketch", and stress centrality is its INTEGER-credit
    sibling: betweenness divides each s->t credit by sigma_st, stress
    counts raw shortest paths, so every quantity is an integer and the
    oracle can be a FULL-VALUE engine-exact replay instead of a
    float-tolerance invariant): the number of shortest paths from
    ``_STRESS_N_SOURCES`` md5-sampled sources that pass through each
    trade-graph node (operators.graph.stress_centrality — batched
    multi-source BFS forward, integer continuation counts backward).

    Oracle: the same sampled-Brandes computation unrolled as chained
    CTEs (forward sigma layers with anti-join first-discovery,
    backward h layers, tau = sigma * (h - 1) summed over sources) at
    ``_STRESS_DEPTH`` layers — the kcore_trade unroll precedent;
    deeper layers are empty at every tested SF. Brute-force BFS
    equality and the hub-dominance sanity live in tests/test_graph.py.

    Registry audit (the standing rule): ``pagerank_trade`` (float
    eigen-importance), ``kcore_trade`` (density tiers — staged
    alongside), ``label_propagation`` (communities), ``triangles``
    (local clustering). Centrality-through-paths is none of these. No
    registered name within edit distance 2 of ``stress_centrality``.
    """
    _prep(spark)
    from meds_polars_functions_spark.operators.graph import stress_centrality

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    return stress_centrality(
        edges,
        n_sources=_STRESS_N_SOURCES,
        salt=_STRESS_SALT,
        max_depth=_STRESS_DEPTH,
    ).orderBy("node")


def _stress_oracle_sql(
    depth: int = _STRESS_DEPTH,
    n_sources: int = _STRESS_N_SOURCES,
    salt: str = _STRESS_SALT,
) -> str:
    """DuckDB replay of q_stress_centrality from the DEFINITION: same
    md5 source pick, ``depth`` unrolled forward sigma layers (anti-join
    keeps first discoveries), backward integer h layers, stress =
    sum of sigma * (h - 1) over interior occurrences."""
    # every CTE is MATERIALIZED: the layer chain references each l{i}
    # and vis{i} several times (next layer, h pass, closing unions) and
    # DuckDB's default CTE inlining re-evaluates per reference — the
    # unmaterialized form exploded exponentially with depth
    parts = [
        f"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS u, o_custkey + 10000000 AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
und AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
nds AS MATERIALIZED (SELECT DISTINCT u AS node FROM und),
srcs AS MATERIALIZED (SELECT node AS s FROM nds
         ORDER BY md5(node::VARCHAR || '{salt}'), node LIMIT {n_sources}),
l0 AS MATERIALIZED (SELECT s, s AS node, 1::BIGINT AS sigma FROM srcs),
vis0 AS MATERIALIZED (SELECT s, node FROM l0)"""
    ]
    for i in range(1, depth + 1):
        parts.append(
            f""",
l{i} AS MATERIALIZED (
  SELECT c.s, c.node, c.sigma FROM (
    SELECT l.s, u.v AS node, sum(l.sigma)::BIGINT AS sigma
    FROM l{i - 1} l JOIN und u ON u.u = l.node GROUP BY l.s, u.v) c
  ANTI JOIN vis{i - 1} x ON x.s = c.s AND x.node = c.node),
vis{i} AS MATERIALIZED (SELECT s, node FROM vis{i - 1}
           UNION ALL SELECT s, node FROM l{i})"""
        )
    parts.append(
        f""",
h{depth} AS MATERIALIZED (SELECT s, node, 1::BIGINT AS h FROM l{depth})"""
    )
    for d in range(depth - 1, 0, -1):
        parts.append(
            f""",
h{d} AS MATERIALIZED (
  SELECT l.s, l.node, (1 + coalesce(sum(x.h), 0))::BIGINT AS h
  FROM l{d} l
  LEFT JOIN (SELECT hn.s, u.u AS node, hn.h
             FROM und u JOIN h{d + 1} hn ON hn.node = u.v) x
    ON x.s = l.s AND x.node = l.node
  GROUP BY l.s, l.node)"""
        )
    lu = " UNION ALL ".join(f"SELECT * FROM l{i}" for i in range(1, depth + 1))
    hu = " UNION ALL ".join(f"SELECT * FROM h{i}" for i in range(1, depth + 1))
    parts.append(
        f""",
tau AS (
  SELECT l.node, l.sigma * (h.h - 1) AS t
  FROM ({lu}) l JOIN ({hu}) h USING (s, node))
SELECT n.node, coalesce(sum(t.t), 0)::BIGINT AS stress
FROM nds n LEFT JOIN tau t ON t.node = n.node
GROUP BY n.node ORDER BY n.node"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Streaming-twin driver rows (VERDICT r13 item 4): the two declarative
# streaming sketch operators get driver-grade visibility by executing a
# REAL micro-batch stream inside the query — file source over a scratch
# copy of the driver table, maxFilesPerTrigger=1 (so state merges across
# >= 2 micro-batches, not one degenerate batch), availableNow trigger,
# memory sink in complete mode. The invariant-row style follows the
# sessionize / approx_percentile_profile precedents; the streaming-
# specific falsifiable claims are (a) the stream actually split into
# multiple micro-batches and (b) the merged sketch state equals / bounds
# the batch answer.
# ---------------------------------------------------------------------------


def _stream_to_memory(spark, fed, build, prefix, files=3, timeout=300):
    """Run ``build(stream)`` over ``fed``'s rows as a REAL micro-batch
    stream and return ``(final_rows_df, n_data_batches)``.

    ``fed`` is written to a scratch dir as ``files`` parquet files; a
    file-source stream with ``maxFilesPerTrigger=1`` replays them one
    micro-batch each under ``Trigger.AvailableNow`` into a memory sink
    in COMPLETE mode, so the sink table holds exactly the final
    aggregate state (no last-update-wins reconstruction). The memory
    sink is driver-resident, so the scratch/checkpoint dirs are removed
    before returning — the returned DataFrame has no file dependency.
    Scratch is per-call (uuid name): re-running a driver query never
    collides with a previous memory table or checkpoint."""
    import os
    import shutil
    import tempfile
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    scratch = tempfile.mkdtemp(prefix=f"{name}_src_")
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ck_")
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        fed.repartition(files).write.mode("overwrite").parquet(scratch)
        # Size the state-store partition count to the DATA (round 16,
        # VERDICT r15 item 5, guide §2.2): structured streaming fixes the
        # number of state partitions at the checkpoint's FIRST batch from
        # spark.sql.shuffle.partitions, and AQE never coalesces stateful
        # exchanges — so the session default (core count) ran 32
        # near-empty state-store tasks per trigger at sf0.1, each paying
        # store open/commit per micro-batch; the same misfit, scaled,
        # wastes task overhead at 100 TB when partitions don't match the
        # state volume. The scratch dir we just wrote IS the stream's
        # whole input, so size from its real bytes: one state partition
        # per target chunk (default 32 MB, env-tunable), capped at the
        # cluster's parallelism, floor 1. The checkpoint dir is per-call,
        # so the setting can never conflict with a prior run's state; the
        # session value is restored in the finally block. Aggregation
        # results are partition-count-independent — rows identical.
        src_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(scratch)
            for f in fs
        )
        target = int(
            os.environ.get("SPARK_GRAFT_STREAM_STATE_TARGET_BYTES", str(32 << 20))
        )
        n_state = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                (src_bytes + target - 1) // max(1, target),
            ),
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
        stream = (
            spark.readStream.schema(fed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(scratch)
        )
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # ADVICE r14: awaitTermination(timeout) returns False on timeout
        # with the query STILL RUNNING — failing fast beats silently
        # comparing partial sink state while the scratch dirs are
        # rmtree'd underneath the stream.
        if not q.awaitTermination(timeout):
            q.stop()
            raise RuntimeError(
                f"streaming query {name} did not finish within {timeout}s"
            )
        n_batches = 0
        for p in q.recentProgress:
            rows = p["numInputRows"] if isinstance(p, dict) else p.numInputRows
            if rows and int(rows) > 0:
                n_batches += 1
        # Materialize the sink rows eagerly (they are driver-resident
        # already; this pins them independent of the dropped scratch).
        # Arrow literal frame (round 16): the classic createDataFrame
        # path planned a pickled ParallelCollectionRDD whose first
        # execution in a session spawns the whole plain-pickle Python
        # worker pool (measured 2-9 s at local[32], guide §6); the sink
        # rows are a handful of finite scalars, exactly the helper's
        # contract.
        out = _arrow_lit(spark, spark.table(name).collect(), spark.table(name).schema)
        return out, n_batches
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        # ADVICE r14: drop the uuid-named memory-sink view — repeated
        # driver sweeps in a long-lived session otherwise accumulate
        # temp views (and their driver-resident row copies).
        # dropTempView returns False (no raise) if the view never
        # materialized.
        spark.catalog.dropTempView(name)
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def q_streaming_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED round 14 (window slot 7, registry 182 -> 184; VERDICT
    r13 item 4): the streaming twin of the grouped HLL overlap
    (streaming.events.streaming_hll_overlap) run as a REAL micro-batch
    stream — the same early/late audience split as ``hll_user_overlap``
    replayed through a file source one file per trigger, so the
    DataSketches register state is built by the STREAMING aggregation
    operator and merged across micro-batches.

    Invariant rows per event type (kmeans_cells precedent), each
    falsifiable:

    - ``n_early_exact`` / ``n_late_exact`` / ``n_union_exact`` /
      ``n_inter_exact``: exact overlap recomputed batch-side; the
      oracle recomputes them definitionally (full value coverage).
    - ``est_within_tol`` / ``inter_bounded`` = 1.0: the STREAMED
      estimates satisfy the same tolerance/inclusion-exclusion
      invariants the batch row claims (``_HLL_OVERLAP_TOL`` /
      ``_HLL_OVERLAP_INTER_TOL``) — a defect in the streaming state
      merge (dropped micro-batch, double-counted file, wrong buffer
      merge) moves the estimates ~|lost fraction| and flips the
      tolerance row (pinned by the dropped-batch falsifiability test).
      NOTE measured at registration: streamed and batch estimates are
      bit-equal only while the sketch is in exact (coupon) mode — at
      sf0.1 cardinalities (~1.2k) the DataSketches estimator output
      depends on merge history by well under 1%, so the row claims the
      TOLERANCE contract, not bit-equality (the shuffled/reversed
      parity test in tests/test_streaming.py pins order-invariance on
      exact-mode corpora).
    - ``multi_batch`` = 1.0: the source really split into >= 2
      non-empty micro-batches (guarded by ``_stream_to_memory``'s
      progress log) — without this the row would silently degrade to
      a batch re-run.

    Registry audit (standing rule): nearest names are
    ``hll_user_overlap`` (the BATCH sketch row — this row proves the
    STREAMING execution path over the same contract) and
    ``audience_overlap`` (exact bitmap twin); no registered name within
    edit distance 2 ('streaming_' prefix). Scale: state is |groups| x
    2^lgk register bytes inside the native streaming-agg buffer — the
    100 TB/day live-overlap path (SCALE.md mergeable-sketch lesson)."""
    _prep(spark)
    from meds_polars_functions_spark.streaming.events import streaming_hll_overlap

    tagged, _, _ = _audience_sides(spark, sf_dir)
    fed = tagged.filter(F.col("__in_a__") | F.col("__in_b__"))
    streamed, n_batches = _stream_to_memory(
        spark,
        fed,
        lambda s: streaming_hll_overlap(
            s, ["event_type"], "user_id", "__in_a__", "__in_b__"
        ),
        "q_shll",
    )
    member = (
        tagged.groupBy("event_type", "user_id")
        .agg(
            F.max(F.col("__in_a__").cast("int")).alias("in_a"),
            F.max(F.col("__in_b__").cast("int")).alias("in_b"),
        )
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
    )
    exact = member.groupBy("event_type").agg(
        F.sum("in_a").alias("__xa__"),
        F.sum("in_b").alias("__xb__"),
        F.count(F.lit(1)).alias("__xu__"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("__xi__"),
    )
    j = streamed.join(F.broadcast(exact), "event_type")
    tol = F.lit(_HLL_OVERLAP_TOL)
    within = (
        (F.abs(F.col("n_a") - F.col("__xa__")) <= tol * F.col("__xa__"))
        & (F.abs(F.col("n_b") - F.col("__xb__")) <= tol * F.col("__xb__"))
        & (F.abs(F.col("n_union") - F.col("__xu__")) <= tol * F.col("__xu__"))
    )
    bounded = (
        (F.col("n_inter") >= 0)
        & (F.col("n_inter") <= F.least(F.col("n_a"), F.col("n_b")))
        & (
            F.abs(F.col("n_inter") - F.col("__xi__"))
            <= F.lit(_HLL_OVERLAP_INTER_TOL) * F.col("__xu__")
        )
    )
    return j.select(
        "event_type",
        F.col("__xa__").cast("long").alias("n_early_exact"),
        F.col("__xb__").cast("long").alias("n_late_exact"),
        F.col("__xu__").cast("long").alias("n_union_exact"),
        F.col("__xi__").cast("long").alias("n_inter_exact"),
        within.cast("double").alias("est_within_tol"),
        bounded.cast("double").alias("inter_bounded"),
        F.lit(float(n_batches >= 2)).alias("multi_batch"),
    ).orderBy("event_type")


#: Invariant oracle for the streaming HLL twin: the four exact counts
#: are definitional recomputes (same as hll_user_overlap); the three
#: flags pin a correct streamed sketch at 1.0. See q_streaming_hll_overlap.
_STREAMING_HLL_OVERLAP_ORACLE_SQL = f"""
WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us FROM events),
c AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
m AS (
  SELECT event_type, user_id,
         max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) AS in_b
  FROM e, c GROUP BY event_type, user_id
  HAVING max(CASE WHEN us < lo + {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1
      OR max(CASE WHEN us >= hi - {_AUDIENCE_WINDOW_US} THEN 1 ELSE 0 END) = 1)
SELECT event_type,
  sum(in_a)::BIGINT AS n_early_exact,
  sum(in_b)::BIGINT AS n_late_exact,
  count(*)::BIGINT AS n_union_exact,
  sum(in_a * in_b)::BIGINT AS n_inter_exact,
  1.0::DOUBLE AS est_within_tol,
  1.0::DOUBLE AS inter_bounded,
  1.0::DOUBLE AS multi_batch
FROM m GROUP BY event_type ORDER BY event_type
"""


def q_streaming_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED round 14 (window slot 8, registry 182 -> 184; VERDICT
    r13 item 4): the streaming twin of the GK-sketch quantile profile
    (streaming.events.streaming_percentile_profile) run as a REAL
    micro-batch stream — events.value replayed through a file source
    one file per trigger, so the Greenwald-Khanna summary is the
    native streaming-aggregation merge buffer, merged across
    micro-batches.

    Invariant rows per event type (the approx_percentile_profile
    style, adapted to the streamed summary's merge contract):

    - ``n``: exact non-null count through the streaming agg — any
      dropped/duplicated micro-batch flips it (oracle recomputes).
    - ``p0`` / ``p100``: exact extremes — GK retains the extreme
      samples through every compress AND merge (oracle recomputes
      min/max).
    - ``rank_ok_p50``/``rank_ok_p90``/``rank_ok_p99`` = 1.0: the
      returned value's exact rank interval intersects the MERGED-
      summary guarantee window. Cross-batch merge is one-way
      mergeable at a relaxed bound (Agarwal et al., "Mergeable
      Summaries"): verified at ``accuracy/2`` — i.e. a 2-eps window
      (``ceil(n/(accuracy/2)) + 1``) — which still binds hard: the
      falsifiability test swaps p99's streamed answer into p50's row
      and the flag flips at every SF.
    - ``multi_batch`` = 1.0: the source really split into >= 2
      non-empty micro-batches.

    Registry audit (standing rule): nearest name is
    ``approx_percentile_profile`` (the BATCH sketch profile — this row
    proves the STREAMING execution of the same aggregate; it shares
    the metric framing deliberately so the two rows are comparable)
    plus ``value_percentiles``/``group_median``/``binned_quantiles``
    per that row's audit; no registered name within edit distance 2
    ('streaming_' prefix). Scale: O(accuracy * log(eps * n)) summary
    bytes per group inside the native streaming-agg buffer — the live
    latency-profile path."""
    _prep(spark)
    from meds_polars_functions_spark.operators.profiles import (
        verify_percentile_profile,
    )
    from meds_polars_functions_spark.streaming.events import (
        streaming_percentile_profile,
    )

    ev = _t(spark, sf_dir, "events")
    fed = ev.filter(F.col("value").isNotNull()).select("event_type", "value")
    ps = [0.0, *_PROFILE_PERCENTILES, 1.0]
    streamed, n_batches = _stream_to_memory(
        spark,
        fed,
        lambda s: streaming_percentile_profile(
            s, "value", ["event_type"], ps, accuracy=_PROFILE_ACCURACY
        ),
        "q_spct",
    )
    # 2-eps guarantee window for the cross-batch merged summary (the
    # one-way-mergeability bound); p0/p100/n stay exact regardless.
    ver = verify_percentile_profile(
        ev, streamed, "value", ["event_type"], accuracy=_PROFILE_ACCURACY // 2
    )
    is_p0 = F.col("percentile") == 0.0
    is_p100 = F.col("percentile") == 1.0
    pct_tag = F.concat(
        F.lit("rank_ok_p"),
        F.round(F.col("percentile") * 100).cast("int").cast("string"),
    )
    rows = ver.select(
        F.col("event_type"),
        F.explode(
            F.when(
                is_p0,
                F.array(
                    F.struct(
                        F.lit("p0").alias("metric"),
                        F.col("approx_value").alias("value"),
                    ),
                    F.struct(
                        F.lit("n").alias("metric"),
                        F.col("n").cast("double").alias("value"),
                    ),
                    F.struct(
                        F.lit("multi_batch").alias("metric"),
                        F.lit(float(n_batches >= 2)).alias("value"),
                    ),
                ),
            )
            .when(
                is_p100,
                F.array(
                    F.struct(
                        F.lit("p100").alias("metric"),
                        F.col("approx_value").alias("value"),
                    )
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        pct_tag.alias("metric"),
                        F.col("rank_ok").cast("double").alias("value"),
                    )
                )
            )
        ).alias("__m"),
    )
    return rows.select(
        "event_type", F.col("__m.metric").alias("metric"), F.col("__m.value").alias("value")
    ).orderBy("event_type", "metric")


#: Invariant oracle for the streaming profile twin: n/p0/p100 are
#: definitional recomputes; the rank_ok and multi_batch flags pin a
#: correct merged summary at 1.0. See q_streaming_percentile_profile.
_STREAMING_PERCENTILE_PROFILE_ORACLE_SQL = """
WITH g AS (
  SELECT event_type, count(value)::DOUBLE AS n,
         min(value) AS mn, max(value) AS mx
  FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT event_type, metric, value FROM (
  SELECT event_type, 'n' AS metric, n AS value FROM g
  UNION ALL SELECT event_type, 'p0', mn FROM g
  UNION ALL SELECT event_type, 'p100', mx FROM g
  UNION ALL SELECT event_type, 'multi_batch', 1.0 FROM g
  UNION ALL SELECT event_type, 'rank_ok_p50', 1.0 FROM g
  UNION ALL SELECT event_type, 'rank_ok_p90', 1.0 FROM g
  UNION ALL SELECT event_type, 'rank_ok_p99', 1.0 FROM g
) ORDER BY event_type, metric
"""


_RETENTION_WINDOW = "1 day"  # tumbling event-time window for the staged
# retention pair. Daily, not weekly: the synthetic 30-day corpus
# saturates weekly audiences (every active user re-appears -> inter ==
# min side everywhere, the degenerate regime the audience_overlap
# staging measured against), while day-over-day audiences are strictly
# partial (0 < inter < min side) for 120-145 of the ~145 window pairs
# at every SF — measured before staging, pinned by the falsifiability
# test.
_RETENTION_WINDOW_US = 86_400_000_000


def q_windowed_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED round 14 (the round-14 family per the pre-committed
    ledger: watermarked windowed grouped sketch state, §2.10 extension
    of both round-13 families): EXACT window-over-window audience
    retention (functions.sketches.windowed_set_retention) — per
    (event_type, daily event-time window w with a populated
    predecessor), the distinct-user counts of w-1 / w / their union,
    the inclusion-exclusion intersection, and ``retention =
    n_inter / n_prev`` (round 9). Who came back, per group, per day —
    the churn primitive.

    100 TB shape (see the operator docstring): ONE corpus exchange
    into per-(group, window, bucket) bitmap cells (localCheckpoint-ed,
    metadata-sized), a window-shift STACK of the cell table (pure
    projection — window-over-window comparison never touches the
    corpus again), one metadata exchange with ``bitmap_or_agg`` +
    FILTER-ed side counts, zero Join and zero Python nodes (plan
    pinned). The same close runs over the sketch table a watermarked
    streaming aggregation emits — the family's point.

    Registry audit (standing rule, listing checked): nearest concepts
    are ``monthly_retention``/``retention_cohort`` (cohort-anchored
    activity matrices keyed by FIRST-activity cohort, no
    window-over-window set intersection), ``audience_overlap`` (fixed
    first/last edge-window pair, not per-window series),
    ``sliding_window_counts`` (windowed COUNTS, no set algebra),
    ``user_streaks`` (per-user gaps-and-islands, no cross-user sets);
    no registered name within edit distance 2."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        windowed_set_retention,
    )

    ev = _t(spark, sf_dir, "events")
    out = windowed_set_retention(
        ev, "ts", ["event_type"], "user_id", _RETENTION_WINDOW
    )
    return out.orderBy("event_type", "window_start")


#: DuckDB replay of q_windowed_user_retention from the DEFINITION:
#: per-(type, epoch-aligned day) distinct-user sets, consecutive-day
#: inner pairing, exact membership-join intersection, round-9
#: retention. BIGINT counts; window_start rebuilt as the same
#: epoch-µs-aligned TIMESTAMP Spark's window() emits.
_WINDOWED_USER_RETENTION_ORACLE_SQL = f"""
WITH e AS (
  SELECT event_type, user_id,
         epoch_us(ts) // {_RETENTION_WINDOW_US} AS d
  FROM events),
m AS (SELECT DISTINCT event_type, d, user_id FROM e),
c AS (SELECT event_type, d, count(*)::BIGINT AS n FROM m GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.d, count(*)::BIGINT AS i
  FROM m a JOIN m b ON a.event_type = b.event_type
   AND a.user_id = b.user_id AND b.d = a.d - 1
  GROUP BY 1, 2)
SELECT c.event_type,
  make_timestamp(c.d * {_RETENTION_WINDOW_US}) AS window_start,
  p.n AS n_prev, c.n AS n_cur,
  (p.n + c.n - coalesce(j.i, 0))::BIGINT AS n_union,
  coalesce(j.i, 0)::BIGINT AS n_inter,
  round(coalesce(j.i, 0) / p.n::DOUBLE, 9) AS retention
FROM c JOIN c p ON p.event_type = c.event_type AND p.d = c.d - 1
LEFT JOIN j ON j.event_type = c.event_type AND j.d = c.d
ORDER BY c.event_type, window_start
"""


def q_windowed_hll_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED round 14 (second member of the windowed-sketch-state
    family — the standing exact+sketch pairing from round 13): the HLL
    path of the same day-over-day audience retention
    (functions.sketches.windowed_sketch_retention) — per-(event_type,
    day) HLL register state, window-shift stack, FILTER-ed
    ``hll_union_agg`` close. The per-window sketch table it builds is
    byte-identical state to what the watermarked streaming builder
    (streaming.events.streaming_windowed_sketch_audience) emits, and
    the close is the SAME function
    (sketch_window_retention_close) — so this row proves the algebra
    a live retention feed would run.

    HLL estimates are engine-specific, so per the hll_user_overlap
    precedent the row emits INVARIANTS per (event_type, window):

    - ``n_prev_exact`` / ``n_cur_exact`` / ``n_union_exact`` /
      ``n_inter_exact``: the exact counts recomputed Spark-side from
      one membership pass — the oracle recomputes them definitionally
      (full value coverage, BIGINT).
    - ``est_within_tol`` = 1.0: each streamed-shape estimate (prev,
      cur, union) within ``_HLL_OVERLAP_TOL`` of its exact value.
    - ``inter_bounded`` = 1.0: the estimated intersection is
      non-negative, <= min(side estimates), and within
      ``_HLL_OVERLAP_INTER_TOL`` x n_union_exact of the exact
      intersection.

    Falsifiability pinned in tests/test_staged_queries.py: a degraded
    lgK-4 sketch flips the flags on a high-cardinality corpus, and the
    strictly-partial regime (0 < inter < min side somewhere) holds at
    sf0.001. Registry audit: differs from ``windowed_user_retention``
    (exact bitmap twin staged alongside — this row proves the SKETCH
    path and its watermark-state merge law) and from
    ``hll_user_overlap`` (fixed two-window pair, not a per-window
    retention series); no registered name within edit distance 2."""
    _prep(spark)
    from meds_polars_functions_spark.functions.sketches import (
        windowed_sketch_retention,
    )

    ev = _t(spark, sf_dir, "events")
    est = windowed_sketch_retention(
        ev, "ts", ["event_type"], "user_id", _RETENTION_WINDOW
    )
    day = (F.unix_micros(F.col("ts")) / F.lit(_RETENTION_WINDOW_US)).cast(
        "long"
    )
    member = (
        ev.select("event_type", day.alias("__d__"), "user_id")
        .distinct()
    )
    cnt = member.groupBy("event_type", "__d__").agg(
        F.count(F.lit(1)).alias("__n__")
    )
    inter = (
        member.alias("a")
        .join(
            member.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.__d__") == F.col("a.__d__") - 1),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), F.col("a.__d__").alias("__d__"))
        .agg(F.count(F.lit(1)).alias("__i__"))
    )
    exact = (
        cnt.alias("c")
        .join(
            cnt.select(
                F.col("event_type"),
                (F.col("__d__") + 1).alias("__d__"),
                F.col("__n__").alias("__np__"),
            ).alias("p"),
            ["event_type", "__d__"],
        )
        .join(inter, ["event_type", "__d__"], "left")
        .select(
            "event_type",
            F.timestamp_micros(
                F.col("__d__") * F.lit(_RETENTION_WINDOW_US)
            ).alias("window_start"),
            F.col("__np__").alias("__xp__"),
            F.col("__n__").alias("__xc__"),
            (F.col("__np__") + F.col("__n__") - F.coalesce("__i__", F.lit(0))).alias("__xu__"),
            F.coalesce("__i__", F.lit(0)).alias("__xi__"),
        )
    )
    j = est.join(F.broadcast(exact), ["event_type", "window_start"])
    tol = F.lit(_HLL_OVERLAP_TOL)
    within = (
        (F.abs(F.col("n_prev") - F.col("__xp__")) <= tol * F.col("__xp__"))
        & (F.abs(F.col("n_cur") - F.col("__xc__")) <= tol * F.col("__xc__"))
        & (F.abs(F.col("n_union") - F.col("__xu__")) <= tol * F.col("__xu__"))
    )
    bounded = (
        (F.col("n_inter") >= 0)
        & (F.col("n_inter") <= F.least(F.col("n_prev"), F.col("n_cur")))
        & (
            F.abs(F.col("n_inter") - F.col("__xi__"))
            <= F.lit(_HLL_OVERLAP_INTER_TOL) * F.col("__xu__")
        )
    )
    return j.select(
        "event_type",
        "window_start",
        F.col("__xp__").cast("long").alias("n_prev_exact"),
        F.col("__xc__").cast("long").alias("n_cur_exact"),
        F.col("__xu__").cast("long").alias("n_union_exact"),
        F.col("__xi__").cast("long").alias("n_inter_exact"),
        within.cast("double").alias("est_within_tol"),
        bounded.cast("double").alias("inter_bounded"),
    ).orderBy("event_type", "window_start")


#: Invariant oracle (hll_user_overlap precedent): exact counts are
#: definitional recomputes; the two flags pin a correct windowed
#: sketch close at 1.0. See q_windowed_hll_retention.
_WINDOWED_HLL_RETENTION_ORACLE_SQL = f"""
WITH e AS (
  SELECT event_type, user_id,
         epoch_us(ts) // {_RETENTION_WINDOW_US} AS d
  FROM events),
m AS (SELECT DISTINCT event_type, d, user_id FROM e),
c AS (SELECT event_type, d, count(*)::BIGINT AS n FROM m GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.d, count(*)::BIGINT AS i
  FROM m a JOIN m b ON a.event_type = b.event_type
   AND a.user_id = b.user_id AND b.d = a.d - 1
  GROUP BY 1, 2)
SELECT c.event_type,
  make_timestamp(c.d * {_RETENTION_WINDOW_US}) AS window_start,
  p.n AS n_prev_exact, c.n AS n_cur_exact,
  (p.n + c.n - coalesce(j.i, 0))::BIGINT AS n_union_exact,
  coalesce(j.i, 0)::BIGINT AS n_inter_exact,
  1.0::DOUBLE AS est_within_tol,
  1.0::DOUBLE AS inter_bounded
FROM c JOIN c p ON p.event_type = c.event_type AND p.d = c.d - 1
LEFT JOIN j ON j.event_type = c.event_type AND j.d = c.d
ORDER BY c.event_type, window_start
"""


def staged_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Staging area for implemented-but-not-yet-registered queries.

    Round 10: hybrid_search (staged r9) REGISTERED with window slot 1
    (COVERAGE.md round-10 ledger, registry 168 → 169); mmr_topk staged
    in its place, then ALSO REGISTERED this round by explicit mid-round
    ledger amendment (COVERAGE.md round-10 amendment, registry 169 →
    170, window slot 1) after its oracle held at registration grade at
    three scale factors — the amendment path the r9 pq_topk precedent
    established. window_funnel (windowed event-funnel analytics,
    operators/funnel.py) staged in its place — the round-10 registry is
    pinned at 170 by the amended ledger, so registration with a window
    slot is the round-11 move. Every staged entry must come WITH an
    oracle in staged_oracle_sql. Session 2 staged the behavioral-
    analytics pair together: window_funnel + monthly_retention.

    Round 11: BOTH registered with window slots 1-2 (COVERAGE.md
    round-11 ledger, registry 170 -> 172); the staging area is empty.

    Standing rule (promoted from the round-10 near-miss, VERDICT r10
    item 4): every staging starts from the `_registry()` listing —
    a duplicate module-level ``q_<name>`` def SHADOWS the registered
    binding and silently turns its driver row red. Names within edit
    distance 2 of a registered query need an explicit differentiation
    note in the staged docstring (precedent: retention_cohorts ->
    monthly_retention, one letter from the registered daily
    retention_cohort). tests/test_staged_queries.py's no-double-booking
    assert is the enforcement.

    Round 11 staged the sessionized-analytics pair (the r10 session-2
    two-staging precedent, documented as a COVERAGE.md addendum):
    first/last-touch attribution plus top-k session journeys
    (operators/attribution.py), both audited against the registry per
    the standing rule (see their docstrings).

    Round 12: BOTH registered with window slots 1-2 (COVERAGE.md
    round-12 ledger, registry 172 -> 174). Round 12 stages the
    approximate-percentile profile family (VERDICT r11 item 4's named
    candidate): the native mergeable-sketch quantile path
    (operators/profiles.py), invariant-oracled per the kmeans_cells
    precedent and registry-audited per the standing rule (see its
    docstring). Second round-12 staging (the r10/r11 two-staging
    cadence): the bitemporal point-in-time audit join
    (operators/temporal.py bitemporal_asof_join) — see
    q_bitemporal_asof's registry-audit note.

    Round 13: BOTH registered with window slots 1-2 (COVERAGE.md
    round-13 ledger, registry 174 -> 176). Round 13 stages the
    grouped-sketch-join family (VERDICT r12 item 3's named candidate)
    as the standing pair: ``audience_overlap`` (EXACT grouped set
    overlap via FILTER-ed bitmap aggregates — strict SQL oracle) and
    ``hll_user_overlap`` (the HLL sketch-JOIN path with an invariant
    oracle, kmeans_cells precedent) — both registry-audited per the
    standing rule (see their docstrings). Round 13 also stages the
    OTHER candidate VERDICT r12 item 3 named, as a second family (the
    r10-session-2 double-staging precedent): the deterministic
    distributed-sampling pair ``stratified_sample`` (proportional
    per-stratum targets, md5 rank — preserves the strata mix, vs the
    registered class_balanced which flattens it) and
    ``weighted_group_sample`` (the Efraimidis-Spirakis race of the
    registered weighted_sample, partitioned per group), both with
    strict seeded-replay oracles. Third round-13 staging (explicit
    COVERAGE.md addendum): the graph pair ``kcore_trade`` +
    ``stress_centrality``.

    Round 14: the ENTIRE six-row round-13 queue registered with window
    slots 1-6 (COVERAGE.md round-14 ledger, registry 176 -> 182), plus
    the two streaming twins built AND registered this round per the
    ledger's conditional clause (slots 7-8, registry 182 -> 184,
    VERDICT r13 item 4). Round 14 stages the ONE new family the ledger
    names (watermarked windowed grouped sketch state, §2.10): the
    day-over-day audience-retention pair ``windowed_user_retention``
    (EXACT bitmap-cell path, strict SQL oracle) +
    ``windowed_hll_retention`` (the HLL state path whose per-window
    sketch table and close are shared verbatim with the watermarked
    streaming builder streaming_windowed_sketch_audience), both
    registry-audited per the standing rule (see their docstrings)."""
    return {
        "windowed_user_retention": q_windowed_user_retention,
        "windowed_hll_retention": q_windowed_hll_retention,
    }


#: KN oracle: exact CTE mirror of the operator — ONE corpus-sized
#: bigram groupBy; c(v), N1+(v,.), N1+(.,w), N1+(.,.) all fold from it.
#: Float-op order matches the Spark expression left-to-right; round(6)
#: like the bigram_lm oracle.
_KNESER_NEY_ORACLE_SQL: dict[str, str] = {
    "kneser_ney_lm": f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents WHERE len(list_filter(string_split_regex(lower(text),
    {TEXT.sql_pattern}), x -> x <> '')) >= 1),
firsts AS (SELECT doc_id, ws[1] AS w FROM d),
bis AS (
  SELECT doc_id,
    unnest(list_transform(range(2, len(ws) + 1), i -> ws[i-1] || ' ' || ws[i]))
      AS pr
  FROM d WHERE len(ws) >= 2),
bsp AS (SELECT doc_id, string_split(pr, ' ')[1] AS v,
               string_split(pr, ' ')[2] AS w FROM bis),
big AS (SELECT v, w, count(*)::BIGINT AS cb FROM bsp GROUP BY v, w),
ctx AS (SELECT v, sum(cb)::BIGINT AS cv, count(*)::BIGINT AS n1v
        FROM big GROUP BY v),
cont AS (SELECT w, count(*)::BIGINT AS n1w FROM big GROUP BY w),
tt AS (SELECT count(*)::BIGINT AS T FROM big),
scored AS (
  SELECT f.doc_id,
         ln(coalesce(c.n1w, 1)::DOUBLE / tt.T) AS logp
  FROM firsts f LEFT JOIN cont c USING (w) CROSS JOIN tt
  UNION ALL
  SELECT b.doc_id,
         ln(greatest(g.cb - 0.75, 0.0) / x.cv
            + 0.75 * x.n1v / x.cv * (coalesce(c.n1w, 1)::DOUBLE / tt.T))
  FROM bsp b
  JOIN big g ON g.v = b.v AND g.w = b.w
  JOIN ctx x ON x.v = b.v
  LEFT JOIN cont c ON c.w = b.w
  CROSS JOIN tt)
SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS lm_score
FROM scored GROUP BY doc_id
""",
}


#: kmeans_cells invariant oracle (VERDICT r5 item 3): the hash compare
#: pins every invariant value the query emits; only ``assigned_rows``
#: is data-derived (recomputed from the embeddings table), the rest are
#: exact invariants of a correct Lloyd trainer. See q_kmeans_cells.
_KMEANS_CELLS_ORACLE_SQL = """
SELECT metric, value FROM (
  SELECT 'all_nearest_frac' AS metric, 1.0::DOUBLE AS value
  UNION ALL
  SELECT 'assigned_rows', (SELECT count(*) FROM embeddings)::DOUBLE
  UNION ALL
  SELECT 'centroids_finite', 1.0::DOUBLE
  UNION ALL
  SELECT 'inertia_monotone', 1.0::DOUBLE
  UNION ALL
  SELECT 'k_centroids', 4.0::DOUBLE
) ORDER BY metric
"""


def staged_oracle_sql() -> dict[str, str]:
    """Oracles for the staged queries. Static SQL over the registered
    views (no parquet-path dependence), so the same string serves the
    sf0.001 staged tests and, on registration, the sf0.01
    ``oracle_sql()`` default. Every staged entry must appear here too:
    a staged query the comparator cannot check verifies nothing."""
    return {
        "windowed_user_retention": _WINDOWED_USER_RETENTION_ORACLE_SQL,
        "windowed_hll_retention": _WINDOWED_HLL_RETENTION_ORACLE_SQL,
    }


# ---------------------------------------------------------------------------
# Query registry + correctness-window ordering
#
# The driver's correctness gate records rows for only the FIRST ~50 entries
# of queries() dict order (observed rounds 1-2). Window membership is
# therefore EXPLICIT, not an accident of dict literal order: queries() emits
# CORRECTNESS_WINDOW first, then every remaining registered query in stable
# registry order. New queries land in the registry (past the window) unless
# deliberately swapped into CORRECTNESS_WINDOW; tests/test_registry.py pins
# the intended first-50 set so an insertion can never silently evict a query
# awaiting verification (the round-2 regression).
#
# Round-14 window (this round), per VERDICT r13 items 1-2-4 (ledger
# pre-committed in COVERAGE.md before any round-14 code work):
#   slots 1-6   = the ENTIRE round-13 staged queue, REGISTERED this
#                 round (registry 176 -> 182) with the staged
#                 sf-independent oracles promoted to the oracle_sql()
#                 defaults.
#   slots 7-8   = streaming_hll_overlap, streaming_percentile_profile —
#                 built AND registered this round per the ledger's
#                 conditional clause (registry 182 -> 184; VERDICT r13
#                 item 4), after passing the staged-grade three-SF
#                 strict pre-check on a default ANSI session.
#   slots 9-34  = ALL 26 r10-age greens (next_window.py queue order) —
#                 after this window no registered row's last green
#                 predates r11;
#   slots 35-50 = the 16 oldest r11-age greens (queue order).
# Ever-green coverage ledger: COVERAGE.md.
# ---------------------------------------------------------------------------

CORRECTNESS_WINDOW: list[str] = [
    # round-14 registrations: the round-13 staged queue (registry
    # 176 -> 182) ...
    "audience_overlap",
    "hll_user_overlap",
    "stratified_sample",
    "weighted_group_sample",
    "kcore_trade",
    "stress_centrality",
    # ... plus the streaming twins (registry 182 -> 184)
    "streaming_hll_overlap",
    "streaming_percentile_profile",
    # ALL 26 r10-age greens, next_window.py queue order
    "pagerank_trade",
    "profile_events",
    "embedding_topk_vectorized",
    "ivf_topk",
    "heavy_hitters",
    "image_features",
    "audio_features",
    "late_order_priority",
    "returned_item_revenue",
    "top_supplier",
    "small_qty_revenue",
    "large_volume_customers",
    "brand_predicate_revenue",
    "dormant_customers",
    "moving_avg_revenue",
    "ntile_acctbal",
    "unpivot_nation_metrics",
    "only_late_supplier",
    "user_streaks",
    "bitmap_distinct_users",
    "argmax_customer",
    "group_median",
    "grouping_sets_revenue",
    "interpolate_values",
    "scd2_priority",
    "snapshot_diff",
    # the 16 oldest r11-age greens, next_window.py queue order
    "window_funnel",
    "monthly_retention",
    "repeat_buyers_setop",
    "dedup_clusters_star",
    "lm_score",
    "semantic_dedup",
    "bigram_lm",
    "dsir_weights",
    "bpe_pair_counts",
    "bm25_search",
    "clf_score",
    "shuffle_positions",
    "winnow_pairs",
    "cdc_chunks",
    "logreg_step",
    "blocklist",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    in_window = set(CORRECTNESS_WINDOW)
    ordered = [*CORRECTNESS_WINDOW, *(k for k in reg if k not in in_window)]
    return {k: reg[k] for k in ordered}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "add_age": q_add_age,
        "time_delta_days": q_time_delta_days,
        "datetime_parts": q_datetime_parts,
        "tokenize_schema": q_tokenize_schema,
        "tokenize_event_seqs": q_tokenize_event_seqs,
        "pack_sequences": q_pack_sequences,
        "corpus_curation": q_corpus_curation,
        "text_quality": q_text_quality,
        "quality_filter": q_quality_filter,
        "tfidf_top_terms": q_tfidf_top_terms,
        "language_id": q_language_id,
        "token_count": q_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dup_groups": q_exact_dup_groups,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_near_dup": q_minhash_near_dup,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "simhash_buckets": q_simhash_buckets,
        "simhash_near_dup": q_simhash_near_dup,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "pq_topk_rerank": q_pq_topk_rerank,
        "winnow_pairs": q_winnow_pairs,
        "cdc_chunks": q_cdc_chunks,
        "logreg_step": q_logreg_step,
        "blocklist": q_blocklist,
        "cms_freq": q_cms_freq,
        "containment": q_containment,
        "incremental_dedup": q_incremental_dedup,
        "bpe_encode": q_bpe_encode,
        "triangles": q_triangles,
        "jaccard_prefix": q_jaccard_prefix,
        "weighted_sample": q_weighted_sample,
        "jl_topk": q_jl_topk,
        "span_dedup": q_span_dedup,
        "label_propagation": q_label_propagation,
        "binned_quantiles": q_binned_quantiles,
        "embedding_dim_stats": q_embedding_dim_stats,
        "standardize_embeddings": q_standardize_embeddings,
        "temperature_mixture": q_temperature_mixture,
        "novelty_score": q_novelty_score,
        "winsorize_quantile": q_winsorize_quantile,
        "incremental_code_agg": q_incremental_code_agg,
        "code_value_trend": q_code_value_trend,
        "welch_ttest": q_welch_ttest,
        "rolling_features": q_rolling_features,
        "target_encode": q_target_encode,
        "corr_matrix": q_corr_matrix,
        "code_rollup": q_code_rollup,
        "drift_metrics": q_drift_metrics,
        "chi_square": q_chi_square,
        "curation_v2": q_curation_v2,
        "event_transitions": q_event_transitions,
        "code_pmi": q_code_pmi,
        "semantic_dedup": q_semantic_dedup,
        "scrub_pii": q_scrub_pii,
        "chunk_documents": q_chunk_documents,
        "unigram_entropy": q_unigram_entropy,
        "lm_score": q_lm_score,
        "bigram_lm": q_bigram_lm,
        "dsir_weights": q_dsir_weights,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bm25_search": q_bm25_search,
        "hybrid_search": q_hybrid_search,
        "mmr_topk": q_mmr_topk,
        # round-11 registrations (staged r10 session 2; COVERAGE.md
        # round-11 ledger, registry 170 -> 172)
        "window_funnel": q_window_funnel,
        "monthly_retention": q_monthly_retention,
        # round-12 registrations (staged r11; COVERAGE.md round-12
        # ledger, registry 172 -> 174)
        "touch_attribution": q_touch_attribution,
        "session_paths": q_session_paths,
        # round-13 registrations (staged r12; COVERAGE.md round-13
        # ledger, registry 174 -> 176)
        "approx_percentile_profile": q_approx_percentile_profile,
        "bitemporal_asof": q_bitemporal_asof,
        # round-14 registrations (the full round-13 staged queue +
        # the two streaming twins of VERDICT r13 item 4; COVERAGE.md
        # round-14 ledger, registry 176 -> 184)
        "audience_overlap": q_audience_overlap,
        "hll_user_overlap": q_hll_user_overlap,
        "stratified_sample": q_stratified_sample,
        "weighted_group_sample": q_weighted_group_sample,
        "kcore_trade": q_kcore_trade,
        "stress_centrality": q_stress_centrality,
        "streaming_hll_overlap": q_streaming_hll_overlap,
        "streaming_percentile_profile": q_streaming_percentile_profile,
        "clf_score": q_clf_score,
        "shuffle_positions": q_shuffle_positions,
        "near_dedup": q_near_dedup,
        "class_balanced": q_class_balanced,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        # round-6 registrations (freeze lifted; staged through round 5)
        "kneser_ney_lm": q_kneser_ney_lm,
        "kmeans_cells": q_kmeans_cells,
        "sliding_window_counts": q_sliding_window_counts,
        "asof_purchase_click": q_asof_purchase_click,
        "range_join_events": q_range_join_events,
        "bloom_semi_filter": q_bloom_semi_filter,
        "locf_impute": q_locf_impute,
        "stream_interval_join": q_stream_interval_join,
        "resample_last": q_resample_last,
        "topk_pruned": q_topk_pruned,
        "trailing_range_revenue": q_trailing_range_revenue,
        "min_cost_supplier": q_min_cost_supplier,
        "market_share": q_market_share,
        "nation_profit": q_nation_profit,
        "important_parts": q_important_parts,
        "supplier_cnt": q_supplier_cnt,
        "repeated_spans": q_repeated_spans,
        "dominant_suppliers": q_dominant_suppliers,
        "shipping_priority": q_shipping_priority,
        "forecast_revenue": q_forecast_revenue,
        "local_supplier_volume": q_local_supplier_volume,
        "volume_shipping": q_volume_shipping,
        "promo_revenue": q_promo_revenue,
        "ship_priority_mix": q_ship_priority_mix,
        "decontaminate": q_decontaminate,
        "repetition_stats": q_repetition_stats,
        "pagerank_trade": q_pagerank_trade,
        "profile_events": q_profile_events,
        "heavy_hitters": q_heavy_hitters,
        "patient_split_filter": q_patient_split_filter,
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "late_order_priority": q_late_order_priority,
        "returned_item_revenue": q_returned_item_revenue,
        "top_supplier": q_top_supplier,
        "small_qty_revenue": q_small_qty_revenue,
        "large_volume_customers": q_large_volume_customers,
        "brand_predicate_revenue": q_brand_predicate_revenue,
        "dormant_customers": q_dormant_customers,
        "moving_avg_revenue": q_moving_avg_revenue,
        "ntile_acctbal": q_ntile_acctbal,
        "unpivot_nation_metrics": q_unpivot_nation_metrics,
        "only_late_supplier": q_only_late_supplier,
        "user_streaks": q_user_streaks,
        "bitmap_distinct_users": q_bitmap_distinct_users,
        "argmax_customer": q_argmax_customer,
        "group_median": q_group_median,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "interpolate_values": q_interpolate_values,
        "scd2_priority": q_scd2_priority,
        "snapshot_diff": q_snapshot_diff,
        "repeat_buyers_setop": q_repeat_buyers_setop,
        "agg_code_metadata": q_agg_code_metadata,
        "agg_all_codes": q_agg_all_codes,
        "filter_patients_min_measurements": q_filter_patients_min_measurements,
        "filter_patients_min_events": q_filter_patients_min_events,
        "filter_measurements": q_filter_measurements,
        "fit_vocabulary_indices": q_fit_vocabulary_indices,
        "normalization": q_normalization,
        "occlude_outliers": q_occlude_outliers,
        "add_time_of_day": q_add_time_of_day,
        "canonical_sort_rank": q_canonical_sort_rank,
        "dedup_keep_first": q_dedup_keep_first,
        "union_by_name": q_union_by_name,
        "patient_id_harvest": q_patient_id_harvest,
        "dup_code_check": q_dup_code_check,
        "metadata_merge_agg": q_metadata_merge_agg,
        "metadata_enrich_full_outer": q_metadata_enrich_full_outer,
        "code_construction": q_code_construction,
        "time_parse": q_time_parse,
        "typed_coercion": q_typed_coercion,
        "regex_filter": q_regex_filter,
        "integral_values": q_integral_values,
        "fill_to_nans": q_fill_to_nans,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_orders_per_customer": q_top_orders_per_customer,
        "hourly_event_counts": q_hourly_event_counts,
        "mixture_sample": q_mixture_sample,
        "hash_split": q_hash_split,
        "code_patients_hll": q_code_patients_hll,
        "funnel_conversion": q_funnel_conversion,
        "retention_cohort": q_retention_cohort,
        "orders_histogram": q_orders_histogram,
        "json_props_stats": q_json_props_stats,
        "value_percentiles": q_value_percentiles,
        "cube_revenue": q_cube_revenue,
        "pivot_status": q_pivot_status,
        "sessionize": q_sessionize,
        "reorder_rank": q_reorder_rank,
        "event_user_enrich": q_event_user_enrich,
        "distinct_twophase": q_distinct_twophase,
        "order_restore": q_order_restore,
        "embedding_topk_vectorized": q_embedding_topk_vectorized,
    }


def _minhash_pairs_cte() -> str:
    """The shared DuckDB CTE chain replaying the portable-mode minhash
    pipeline up through ``ver`` (verified candidate pairs with exact
    Jaccard): same seeded universal-hash coefficients (inlined as
    literals), same md5-60bit shingle hash, band equality on the raw
    4-long signature slice (the Spark side buckets by crc32 of the
    slice — a pure bucket-key choice that cannot change the verified
    output short of a 2^-32 collision). Composed by both
    _minhash_oracle_sql and _dedup_clusters_star_oracle_sql."""
    from meds_polars_functions_spark.operators.dedup import _hash_params

    params = _hash_params(64, 42)
    a_lit = "[" + ",".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ",".join(str(b) for _, b in params) + "]"
    return f"""w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1), i ->
        array_to_string(list_slice(words, i, i + 2), ' ')))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
hs AS (
  SELECT doc_id,
    list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647) AS h
  FROM sh),
sig AS (
  SELECT doc_id, h,
    list_transform(range(1, 65), j ->
      list_min(list_transform(h, x -> ({a_lit}[j] * x + {b_lit}[j]) % 2147483647))) AS sig
  FROM hs),
bands AS (
  SELECT doc_id, band_idx, list_slice(sig, band_idx*4+1, band_idx*4+4) AS band
  FROM sig, UNNEST(range(0, 16)) AS t(band_idx)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
ver AS (
  SELECT id_a, id_b,
    len(list_distinct(list_intersect(ha.h, hb.h)))::DOUBLE
      / len(list_distinct(list_concat(ha.h, hb.h))) AS jaccard
  FROM cand JOIN hs ha ON cand.id_a = ha.doc_id
            JOIN hs hb ON cand.id_b = hb.doc_id)"""


def _minhash_oracle_sql() -> str:
    """DuckDB replay of q_minhash_near_dup — see _minhash_pairs_cte."""
    return f"""
WITH {_minhash_pairs_cte()}
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.5
"""


def _dedup_clusters_star_oracle_sql() -> str:
    """DuckDB replay of q_dedup_clusters_star: the minhash pair pipeline
    (_minhash_pairs_cte) followed by a recursive-CTE component labeling —
    min reachable id per node, nodes appearing in a pair only."""
    return f"""
WITH RECURSIVE {_minhash_pairs_cte()},
pr AS (SELECT id_a, id_b FROM ver WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION SELECT id_b, id_a FROM pr),
reach(id, root) AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e2.dst, r.root FROM reach r JOIN edges e2 ON e2.src = r.id)
SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
"""


def _pagerank_oracle_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """DuckDB replay of q_pagerank_trade: the fixed-length power iteration
    unrolls into one chained CTE per round — same dangling-mass
    redistribution and damping as operators/graph.py. Float-sum order
    differs between engines only below 1e-15 relative, far inside the
    round(9) output quantum."""
    head = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS src, o_custkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
p AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM p) AS rank FROM nodes)"""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f""",
r{k} AS (
  SELECT n2.node,
    {1.0 - damping} / (SELECT n FROM p)
      + {damping} * (coalesce(m.mass, 0)
                     + (SELECT coalesce(sum(r.rank), 0) FROM r{k - 1} r
                        LEFT JOIN deg ON r.node = deg.node
                        WHERE deg.out_deg IS NULL) / (SELECT n FROM p)) AS rank
  FROM nodes n2
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.out_deg) AS mass
             FROM r{k - 1} r JOIN deg ON r.node = deg.node
                             JOIN e ON e.src = r.node
             GROUP BY e.dst) m ON n2.node = m.node)""")
    return head + "".join(steps) + f"""
SELECT node, round(rank, 9) AS rank FROM r{n_iter}
"""


def _pagerank_oracle_sql_entry() -> str:
    return _pagerank_oracle_sql()


def _srp_dot_sql(vec: str, plane: list[float], dim: int) -> str:
    """DuckDB expression replaying similarity._dot(vec, plane-literal):
    sequential left fold from 0.0, same order => bit-identical IEEE sum.
    Plane literals use repr() round-trip decimals; DuckDB's decimal ->
    DOUBLE conversion is correctly rounded, landing on the same bits."""
    lit = "[" + ",".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
        f"i -> {vec}[i] * ({lit})[i])), (a, b) -> a + b)"
    )


def _srp_bucket_sql(vec: str, planes: list[list[float]], dim: int) -> str:
    """Sign-bit bucket id: sum_j (dot(v, plane_j) > 0) * 2^j."""
    terms = [
        f"(CASE WHEN {_srp_dot_sql(vec, pl, dim)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, pl in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({v}, x -> x * x)), (a, b) -> a + b))"
)
_SQL_PAIR_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {n}), "
    "i -> {a}[i] * {b}[i])), (a, b) -> a + b)"
)


def _lsh_topk_oracle_sql(dim: int = 64, n_planes: int = 8, k: int = 5) -> str:
    """DuckDB replay of q_lsh_topk (single-probe SRP-LSH): seeded plane
    literals inlined, bucket equi-join, exact cosine ranking with the
    vec_id tiebreak."""
    from meds_polars_functions_spark.operators.similarity import _seeded_hyperplanes

    planes = _seeded_hyperplanes(dim, n_planes, 42)
    bucket = _srp_bucket_sql("v", planes, dim)
    norm = _SQL_NORM.format(v="v")
    dot = _SQL_PAIR_DOT.format(n=dim + 1, a="c.v", b="q.v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket, {norm} AS nrm FROM e),
q AS (SELECT vec_id AS query_id, v, bucket, nrm FROM b WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id,
         {dot} / (q.nrm * c.nrm) AS cosine
  FROM b c JOIN q ON c.bucket = q.bucket),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def _embedding_near_dup_lsh_oracle_sql(
    dim: int = 64, n_planes: int = 6, n_tables: int = 6, threshold: float = 0.4
) -> str:
    """DuckDB replay of q_embedding_near_dup_lsh: per-table seeded plane
    buckets (seed 42+t), candidates = pairs sharing any (table, bucket),
    exact-cosine verify at the threshold. The Spark side computes sign
    bits with one BLAS matmul whose summation order differs from this
    sequential fold only below ~1e-13 relative — sign flips require a
    dot product within that of zero."""
    from meds_polars_functions_spark.operators.similarity import _seeded_hyperplanes

    per_table = ",\n    ".join(
        f"({_srp_bucket_sql('v', _seeded_hyperplanes(dim, n_planes, 42 + t), dim)})"
        for t in range(n_tables)
    )
    norm = _SQL_NORM.format(v="v")
    dot = _SQL_PAIR_DOT.format(n=dim + 1, a="x.v", b="y.v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 1000),
b AS (
  SELECT vec_id, v, {norm} AS nrm,
    [{per_table}] AS buckets
  FROM e),
banded AS (
  SELECT vec_id, v, nrm, t.i AS table_idx, buckets[t.i] AS bucket
  FROM b, UNNEST(range(1, {n_tables + 1})) AS t(i)),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM banded x JOIN banded y
    ON x.table_idx = y.table_idx AND x.bucket = y.bucket
   AND x.vec_id < y.vec_id),
ver AS (
  SELECT id_a, id_b, {dot} / (x.nrm * y.nrm) AS cosine
  FROM cand JOIN b x ON cand.id_a = x.vec_id
            JOIN b y ON cand.id_b = y.vec_id)
SELECT id_a, id_b FROM ver WHERE cosine >= {threshold}
"""


def _patient_split_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """DuckDB replay of q_patient_split_filter. The split assignment is a
    pure function of (sorted distinct id set, seed) — shard_patients runs
    NumPy's seeded permutation over ids harvested in sorted order, no
    Spark state involved — so the oracle recomputes the same permutation
    here (ids read via DuckDB from the sf0.01 tables the driver pins for
    the correctness gate) and inlines the train membership as literals.
    Returns None when that path is absent (query then stays rows-only)."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from meds_polars_functions_spark.operators.split_patients import shard_patients

    ids = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT user_id FROM '{path}' WHERE user_id IS NOT NULL"
        ).fetchall()
    )
    shards = shard_patients(ids, n_patients_per_shard=1000, seed=1)
    train_ids = sorted(
        pid for name, members in shards.items()
        if name.startswith("train/") for pid in members
    )
    id_list = ",".join(str(i) for i in train_ids)
    return f"""
SELECT user_id AS patient_id, count(*) AS n
FROM events
WHERE user_id IN ({id_list})
GROUP BY 1
"""


def _ivf_topk_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01", dim: int = 64, n_centroids: int = 8, k: int = 5
) -> str | None:
    """DuckDB replay of q_ivf_topk: centroids recomputed via the SAME
    _kmeans_lloyd over the vec_id-ordered full sample (pure function of
    data+seed), inlined as literals; nearest-cell assignment replays the
    strict `d < best` first-min-wins argmin; cosine ranking replays the
    sequential fold. None when the pinned sf0.01 path is absent."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from meds_polars_functions_spark.operators.similarity import _kmeans_lloyd

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    cents = _kmeans_lloyd(sample, n_centroids, seed=42, n_iters=5)

    def dist(vec: str, c: list[float]) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"i -> ({vec}[i] - ({lit})[i]) * ({vec}[i] - ({lit})[i]))), (a, b) -> a + b)"
        )

    dists = ", ".join(dist("v", c) for c in cents)
    # first-min-wins argmin: CASE matches the first distance equal to the
    # exact least() double, same tie rule as the Spark strict `<` chain
    cell_case = " ".join(
        f"WHEN ds[{i + 1}] = best THEN {i}" for i in range(len(cents))
    )
    norm = _SQL_NORM.format(v="v")
    dot = _SQL_PAIR_DOT.format(n=dim + 1, a="c.v", b="q.v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
d AS (SELECT vec_id, v, [{dists}] AS ds, {norm} AS nrm FROM e),
cellado AS (
  SELECT vec_id, v, nrm,
         (CASE {cell_case} END)::INT AS cell
  FROM (SELECT vec_id, v, nrm, ds, list_reduce(ds, (a, b) -> least(a, b)) AS best FROM d)),
q AS (SELECT vec_id AS query_id, v, nrm, cell FROM cellado WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id, {dot} / (q.nrm * c.nrm) AS cosine
  FROM cellado c JOIN q ON c.cell = q.cell),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def _jl_topk_oracle_sql(
    dim: int = 64, out_dim: int = 16, seed: int = 7, k: int = 5
) -> str:
    """DuckDB replay of q_jl_topk: seeded projection planes inlined as
    literals, each component the shared sequential-fold dot
    (_srp_dot_sql — bit-identical to Spark's aggregate fold), then
    exact cosine ranking in the projected space with round(6) + vec_id
    tiebreak."""
    from meds_polars_functions_spark.operators.similarity import _seeded_hyperplanes

    planes = _seeded_hyperplanes(dim, out_dim, seed)
    comps = ", ".join(_srp_dot_sql("v", pl, dim) for pl in planes)
    norm = _SQL_NORM.format(v="p")
    dot = _SQL_PAIR_DOT.format(n=out_dim + 1, a="c.p", b="q.p")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
proj AS (SELECT vec_id, [{comps}] AS p FROM e),
withn AS (SELECT vec_id, p, {norm} AS nrm FROM proj),
q AS (SELECT vec_id AS query_id, p, nrm FROM withn WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id, round({dot} / (q.nrm * c.nrm), 6) AS cosine
  FROM withn c CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def _pq_topk_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    dim: int = 64,
    m: int = 8,
    n_centroids: int = 16,
    k: int = 5,
) -> str | None:
    """DuckDB replay of q_pq_topk: per-subspace codebooks recomputed via
    the SAME _kmeans_lloyd over the vec_id-ordered data (seed 42+j),
    inlined as literals. The per-subspace distance arrays double as both
    the encode argmin input (first-min-wins CASE, strict-< tie rule) and
    the query-side ADC lookup tables; the approximate distance is the
    same left-to-right sum Spark's aggregate fold produces (0.0 + t0 ==
    t0 exactly for non-negative IEEE doubles), rounded to 6 before
    ranking on both engines."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from meds_polars_functions_spark.operators.similarity import _kmeans_lloyd

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    sub = dim // m
    books = [
        _kmeans_lloyd(
            np.ascontiguousarray(sample[:, j * sub : (j + 1) * sub]),
            n_centroids,
            seed=42 + j,
            n_iters=5,
        )
        for j in range(m)
    ]

    def dist(vec: str, c: list[float]) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {sub + 1}), "
            f"i -> ({vec}[i] - ({lit})[i]) * ({vec}[i] - ({lit})[i]))), (a, b) -> a + b)"
        )

    slices = ", ".join(
        f"list_slice(v, {j * sub + 1}, {(j + 1) * sub}) AS s{j}" for j in range(m)
    )
    ds_arrays = ", ".join(
        "[" + ", ".join(dist(f"s{j}", c) for c in books[j]) + f"] AS ds{j}"
        for j in range(m)
    )
    bests = ", ".join(
        f"list_reduce(ds{j}, (a, b) -> least(a, b)) AS b{j}" for j in range(m)
    )
    cells = ", ".join(
        "(CASE "
        + " ".join(f"WHEN ds{j}[{i + 1}] = b{j} THEN {i}" for i in range(n_centroids))
        + f" END)::INT AS c{j}"
        for j in range(m)
    )
    approx = " + ".join(f"q.ds{j}[c.c{j} + 1]" for j in range(m))
    ds_cols = ", ".join(f"ds{j}" for j in range(m))
    c_cols = ", ".join(f"c{j}" for j in range(m))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
sv AS (SELECT vec_id, {slices} FROM e),
d AS (SELECT vec_id, {ds_arrays} FROM sv),
b AS (SELECT *, {bests} FROM d),
enc AS (SELECT vec_id, {cells} FROM b),
q AS (SELECT vec_id AS query_id, {ds_cols} FROM d WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id, round({approx}, 6) AS approx_d
  FROM (SELECT vec_id, {c_cols} FROM enc) c
  CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_d ASC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def _bpe_encode_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01", n_merges: int = 10
) -> str | None:
    """DuckDB replay of q_bpe_encode: merges recomputed by the pure
    Python Sennrich reference over the DuckDB word-frequency table
    (identical count-desc/pair-asc tie rule as the Spark trainer —
    integer arithmetic, no float risk), then the per-merge greedy
    leftmost fold unrolled as nested list_reduce expressions with a
    struct {out, pend} accumulator (list_prepend supplies the init
    state, mirroring the Spark aggregate fold exactly)."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    from collections import Counter

    import duckdb

    freqs = dict(
        duckdb.sql(
            f"""
SELECT word, count(*) AS freq FROM (
  SELECT unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '')) AS word
  FROM '{path}') GROUP BY 1"""
        ).fetchall()
    )
    symtab = {w: tuple(w) for w in freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in symtab.items():
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b))
        for w, syms in list(symtab.items()):
            out: list[str] = []
            pend = None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == a and s == b:
                    out.append(a + b)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            symtab[w] = tuple(out)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # One merge pass as windowed gaps-and-islands (DuckDB 1.0's
    # list_reduce loses accumulated list state in struct accumulators,
    # so the Spark-side fold is replayed positionally): a position is a
    # merge START iff its (a, b) pair matches and it holds an ODD rank
    # within its island of consecutive matching positions — exactly
    # leftmost-first non-overlapping (overlap chains only arise when
    # a == b); the symbol after a merge start is consumed.
    passes = []
    for k, (a, b) in enumerate(merges, start=1):
        prev = "t0" if k == 1 else f"t{k - 1}"
        passes.append(f""",
e{k} AS (
  SELECT word, i AS pos, syms[i] AS sym,
         (syms[i] = {q(a)} AND i < len(syms) AND syms[i + 1] = {q(b)}) AS mt
  FROM {prev}, UNNEST(range(1, len(syms) + 1)) AS u(i)),
r{k} AS (
  SELECT word, pos, sym, mt,
         CASE WHEN mt THEN pos - row_number()
           OVER (PARTITION BY word, mt ORDER BY pos) END AS island
  FROM e{k}),
s{k} AS (
  SELECT word, pos, sym, mt,
         mt AND (row_number() OVER (PARTITION BY word, island ORDER BY pos) % 2 = 1)
           AS mstart
  FROM r{k}),
t{k} AS (
  SELECT word,
         list(CASE WHEN mstart THEN {q(a + b)} ELSE sym END ORDER BY pos) AS syms
  FROM (SELECT *, coalesce(lag(mstart) OVER (PARTITION BY word ORDER BY pos), FALSE)
          AS consumed FROM s{k})
  WHERE NOT consumed
  GROUP BY word)""")
    final = f"t{len(merges)}" if merges else "t0"
    return f"""
WITH w AS (
  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                  x -> x <> '')) AS word
  FROM documents),
t0 AS (
  SELECT word, list_filter(string_split(word, ''), ch -> ch <> '') AS syms
  FROM w){''.join(passes)}
SELECT word, array_to_string(syms, ' ') AS toks FROM {final}
"""


def _semantic_dedup_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    dim: int = 64,
    n_centroids: int = 8,
    threshold: float = 0.4,
) -> str | None:
    """DuckDB replay of q_semantic_dedup: centroids from the SAME
    deterministic _kmeans_lloyd (inlined as literals, like
    _ivf_topk_oracle_sql), first-min-wins cell assignment, within-cell
    cosine pairs, recursive-CTE components, keep min-id per cluster."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb
    import numpy as np

    from meds_polars_functions_spark.operators.similarity import _kmeans_lloyd

    rows = duckdb.sql(
        f"SELECT embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    cents = _kmeans_lloyd(sample, n_centroids, seed=42, n_iters=5)

    def dist(vec: str, c: list[float]) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in c) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"i -> ({vec}[i] - ({lit})[i]) * ({vec}[i] - ({lit})[i]))), (a, b) -> a + b)"
        )

    dists = ", ".join(dist("v", c) for c in cents)
    cell_case = " ".join(
        f"WHEN ds[{i + 1}] = best THEN {i}" for i in range(len(cents))
    )
    norm = _SQL_NORM.format(v="v")
    dot = _SQL_PAIR_DOT.format(n=dim + 1, a="a.v", b="b.v")
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
d AS (SELECT vec_id, v, [{dists}] AS ds, {norm} AS nrm FROM e),
cellado AS (
  SELECT vec_id, v, nrm,
         (CASE {cell_case} END)::INT AS cell
  FROM (SELECT vec_id, v, nrm, ds, list_reduce(ds, (a, b) -> least(a, b)) AS best FROM d)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cellado a JOIN cellado b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {dot} / (a.nrm * b.nrm) >= {threshold}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, root) AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e2.dst, r.root FROM reach r JOIN edges e2 ON e2.src = r.id),
lab AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id)
SELECT vec_id FROM e
WHERE vec_id NOT IN (SELECT id FROM lab WHERE id != cluster_id)
"""


def oracle_sql() -> dict[str, str]:
    oracles = {
        "agg_code_metadata": f"""
WITH {_MEDS_CTE}
SELECT code,
  count(DISTINCT patient_id) AS "code/n_patients",
  count(*) AS "code/n_occurrences",
  count(DISTINCT CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) THEN patient_id END) AS "values/n_patients",
  count(CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) THEN 1 END) AS "values/n_occurrences",
  count(CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) AND round(numeric_value) = numeric_value THEN 1 END) AS "values/n_ints",
  round(coalesce(sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 0), 6) AS "values/sum",
  round(coalesce(sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value * numeric_value END), 0), 6) AS "values/sum_sqd",
  round(min(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 6) AS "values/min",
  round(max(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 6) AS "values/max"
FROM meds GROUP BY code
""",
        # OLS replay: identical sufficient-statistic arithmetic, x
        # centered at 2020-01-01 in both engines.
        "code_value_trend": f"""
WITH {_MEDS_CTE},
x AS (
  SELECT code,
    (epoch_us("time") - 1577836800000000) / 86400000000.0 AS xv,
    numeric_value::DOUBLE AS yv
  FROM meds
  WHERE "time" IS NOT NULL AND numeric_value IS NOT NULL
    AND NOT isnan(numeric_value)),
s AS (
  SELECT code, count(*) AS n, sum(xv) AS sx, sum(yv) AS sy,
         sum(xv*xv) AS sxx, sum(yv*yv) AS syy, sum(xv*yv) AS sxy
  FROM x GROUP BY 1)
SELECT code, n,
  round(CASE WHEN n*sxx - sx*sx > 0 THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 6) AS slope,
  round(CASE WHEN n*sxx - sx*sx > 0
        THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END, 6) AS intercept,
  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r2
FROM s
""",
        # Curation-v2 replay: the quality-gate, span-dedup and
        # temperature-mixture CTEs chained (each identical to its
        # standalone oracle, re-rooted on the previous stage's output).
        "curation_v2": fr"""
WITH w AS (
  SELECT doc_id, text, lang,
    {TEXT.sql()} AS words
  FROM documents),
stats AS (
  SELECT doc_id, text, lang,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS mean_word_len,
    length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS punct_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS digit_ratio,
    len(list_filter(words, x -> list_contains(
      ['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS stopword_ratio
  FROM w),
kept AS (
  SELECT doc_id, text, lang FROM stats
  WHERE n_words BETWEEN 30 AND 100000
    AND punct_ratio <= 0.2 AND digit_ratio <= 0.2
    AND stopword_ratio >= 0.02
    AND mean_word_len BETWEEN 3.0 AND 12.0),
words2 AS (SELECT doc_id, lang, string_split(text, ' ') AS wd FROM kept),
spans AS (
  SELECT doc_id, t.i AS idx,
         array_to_string(list_slice(wd, t.i*20+1, t.i*20+20), ' ') AS span
  FROM words2, unnest(range(0, cast(ceil(len(wd)/20.0) AS BIGINT))) AS t(i)),
winners AS (
  SELECT doc_id, idx FROM (
    SELECT doc_id, idx, row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
    FROM spans) WHERE rn = 1),
rebuilt AS (
  SELECT s.doc_id, string_agg(s.span, ' ' ORDER BY s.idx) AS text
  FROM spans s JOIN winners u ON s.doc_id = u.doc_id AND s.idx = u.idx
  GROUP BY 1),
sd AS (
  SELECT r.doc_id, r.text, k.lang FROM rebuilt r JOIN kept k USING (doc_id)
  WHERE length(r.text) > 0),
c AS (SELECT lang, count(*) AS c FROM sd GROUP BY 1),
t2 AS (SELECT sum(pow(c, 0.5)) AS wsum, sum(c) AS n FROM c),
r2 AS (SELECT lang, least(1.0, (pow(c, 0.5)/wsum) * (n/c)) AS rate FROM c CROSS JOIN t2),
mx AS (
  SELECT sd.* FROM sd JOIN r2 USING (lang)
  WHERE ('0x' || substr(md5(sd.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 < rate)
SELECT lang, count(*) AS n_docs,
  sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')))::BIGINT AS token_sum
FROM mx GROUP BY 1
""",
        # Chi-square replay: same observed-cell formula with the
        # closed-form zero-cell correction (sum e over missing cells =
        # n - sum e over present cells).
        "chi_square": """
WITH cells AS (
  SELECT lang AS a, source AS b, count(*) AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT o,
    sum(o) OVER (PARTITION BY a) * sum(o) OVER (PARTITION BY b)
      / (sum(o) OVER ())::DOUBLE AS e,
    sum(o) OVER () AS n,
    count(DISTINCT a) OVER () AS ka,
    count(DISTINCT b) OVER () AS kb
  FROM cells)
-- n::BIGINT: sum(o) OVER () is HUGEINT -> pandas float64, vs Spark's
-- int64 window sum; the driver value hash distinguishes 1 from 1.0
-- (round-4 red row). dof is BIGINT*BIGINT (no HUGEINT promotion) - fine.
SELECT n::BIGINT AS n, (ka - 1) * (kb - 1) AS dof,
  round(sum((o - e) * (o - e) / e) + (n - sum(e)), 6) AS chi2,
  round(CASE WHEN (ka - 1) * (kb - 1) > 0
        THEN sqrt((sum((o - e) * (o - e) / e) + (n - sum(e)))
                  / (n * least(ka - 1, kb - 1))) END, 6) AS cramers_v
FROM m GROUP BY n, ka, kb
""",
        # Drift replay: same cell tables (width-1000 bins), full-outer
        # cell align, CDF/smoothed-probability windows, KS + PSI.
        "drift_metrics": """
WITH ha AS (
  SELECT l_linestatus, least(greatest(cast(floor(l_extendedprice/1000.0) AS BIGINT), 0), 119) AS bin,
         count(*) AS ca
  FROM lineitem WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL GROUP BY 1, 2),
hb AS (
  SELECT l_linestatus, least(greatest(cast(floor(l_extendedprice/1000.0) AS BIGINT), 0), 119) AS bin,
         count(*) AS cb
  FROM lineitem WHERE l_returnflag <> 'R' AND l_extendedprice IS NOT NULL GROUP BY 1, 2),
cells AS (
  SELECT coalesce(ha.l_linestatus, hb.l_linestatus) AS l_linestatus,
         coalesce(ha.bin, hb.bin) AS bin,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ha FULL OUTER JOIN hb
    ON ha.l_linestatus = hb.l_linestatus AND ha.bin = hb.bin),
p AS (
  SELECT l_linestatus, bin,
    sum(ca) OVER (PARTITION BY l_linestatus ORDER BY bin)
      / (sum(ca) OVER (PARTITION BY l_linestatus))::DOUBLE AS cdf_a,
    sum(cb) OVER (PARTITION BY l_linestatus ORDER BY bin)
      / (sum(cb) OVER (PARTITION BY l_linestatus))::DOUBLE AS cdf_b,
    (ca + 0.5) / (sum(ca) OVER (PARTITION BY l_linestatus)
                  + 0.5 * count(*) OVER (PARTITION BY l_linestatus)) AS pa,
    (cb + 0.5) / (sum(cb) OVER (PARTITION BY l_linestatus)
                  + 0.5 * count(*) OVER (PARTITION BY l_linestatus)) AS pb
  FROM cells)
SELECT l_linestatus,
  round(max(abs(cdf_a - cdf_b)), 6) AS ks,
  round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
FROM p GROUP BY 1
""",
        # Hierarchy-rollup replay: same code construction as
        # code_construction, prefixes via correlated generate over the
        # split parts, identical (prefix, level) aggregation.
        "code_rollup": """
WITH coded AS (
  SELECT 'EVT' || '//' || coalesce(event_type, 'UNK') || '//' ||
         coalesce(CASE WHEN value > 0.5 THEN props END, 'UNK') AS code,
         value
  FROM events),
parts AS (SELECT code, value, string_split(code, '//') AS p FROM coded),
pref AS (
  SELECT code, value, t.k AS level,
         array_to_string(list_slice(p, 1, t.k), '//') AS code_prefix
  FROM parts, unnest(range(1, len(p) + 1)) AS t(k))
SELECT code_prefix, level, count(*) AS n,
  count(DISTINCT code) AS n_codes,
  round(sum(value), 4) AS value_sum
FROM pref GROUP BY 1, 2
""",
        # Correlation replay: same sufficient-statistic identity
        # (n*sp - sa*sb) / sqrt((n*ssa - sa^2)(n*ssb - sb^2)),
        # complete-case over the same 4 columns.
        "corr_matrix": """
WITH s AS (
  SELECT count(*) AS n,
    sum(l_quantity) AS s0, sum(l_quantity*l_quantity) AS ss0,
    sum(l_extendedprice) AS s1, sum(l_extendedprice*l_extendedprice) AS ss1,
    sum(l_discount) AS s2, sum(l_discount*l_discount) AS ss2,
    sum(l_tax) AS s3, sum(l_tax*l_tax) AS ss3,
    sum(l_quantity*l_extendedprice) AS sp0_1,
    sum(l_quantity*l_discount) AS sp0_2,
    sum(l_quantity*l_tax) AS sp0_3,
    sum(l_extendedprice*l_discount) AS sp1_2,
    sum(l_extendedprice*l_tax) AS sp1_3,
    sum(l_discount*l_tax) AS sp2_3
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
p AS (
  SELECT * FROM (
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
      n*sp0_1 - s0*s1 AS num, n*ss0 - s0*s0 AS da, n*ss1 - s1*s1 AS db FROM s
    UNION ALL SELECT 'l_quantity', 'l_discount', n,
      n*sp0_2 - s0*s2, n*ss0 - s0*s0, n*ss2 - s2*s2 FROM s
    UNION ALL SELECT 'l_quantity', 'l_tax', n,
      n*sp0_3 - s0*s3, n*ss0 - s0*s0, n*ss3 - s3*s3 FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
      n*sp1_2 - s1*s2, n*ss1 - s1*s1, n*ss2 - s2*s2 FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
      n*sp1_3 - s1*s3, n*ss1 - s1*s1, n*ss3 - s3*s3 FROM s
    UNION ALL SELECT 'l_discount', 'l_tax', n,
      n*sp2_3 - s2*s3, n*ss2 - s2*s2, n*ss3 - s3*s3 FROM s))
SELECT col_a, col_b, n,
  round(CASE WHEN da > 0 AND db > 0 THEN num / sqrt(da * db) END, 6) AS corr
FROM p
""",
        # Rolling-feature replay: identical leakage-free frame
        # (7 PRECEDING .. 1 PRECEDING), same sum/sumsq std identity.
        "rolling_features": """
WITH w AS (
  SELECT event_id,
    count(value) OVER f AS n,
    sum(value) OVER f AS s,
    sum(value*value) OVER f AS ss,
    min(value) OVER f AS mn,
    max(value) OVER f AS mx,
    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1
  FROM events
  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_id, n AS value_roll_n,
  round(CASE WHEN n > 0 THEN s/n END, 6) AS value_roll_mean,
  round(CASE WHEN n > 1 AND (ss - s*s/n)/(n-1) >= 0
        THEN sqrt((ss - s*s/n)/(n-1)) END, 6) AS value_roll_std,
  round(mn, 6) AS value_roll_min,
  round(mx, 6) AS value_roll_max,
  round(l1, 6) AS value_lag1
FROM w
""",
        # LOO target-encoding replay: same smoothing arithmetic, global
        # mean as sum/count.
        "target_encode": """
WITH g AS (SELECT sum(value)/count(value) AS gm FROM events),
c AS (SELECT event_id, event_type, value,
    sum(value) OVER (PARTITION BY event_type) AS cs,
    count(value) OVER (PARTITION BY event_type) AS cn
  FROM events)
SELECT event_id, event_type,
  round((cs - value + 20.0 * gm) / (cn - 1 + 20.0), 6) AS event_type_te
FROM c CROSS JOIN g
""",
        # Welch replay: identical sufficient-statistic arithmetic
        # (sample variance via sums, same guard conditions).
        "welch_ttest": """
WITH s AS (
  SELECT l_linestatus,
    count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_a,
    sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS s_a,
    sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice * l_extendedprice END) AS ss_a,
    count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS n_b,
    sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS s_b,
    sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice * l_extendedprice END) AS ss_b
  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
d AS (
  SELECT *,
    (ss_a - n_a * (s_a/n_a) * (s_a/n_a)) / (n_a - 1) AS va,
    (ss_b - n_b * (s_b/n_b) * (s_b/n_b)) / (n_b - 1) AS vb
  FROM s),
e AS (SELECT *, va/n_a + vb/n_b AS se2 FROM d)
SELECT l_linestatus, n_a, n_b,
  round(s_a/n_a, 6) AS mean_a,
  round(s_b/n_b, 6) AS mean_b,
  round(CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
        THEN (s_a/n_a - s_b/n_b) / sqrt(se2) END, 6) AS t,
  round(CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
        THEN (se2 * se2) / ((va/n_a)*(va/n_a)/(n_a-1) + (vb/n_b)*(vb/n_b)/(n_b-1)) END, 6) AS df
FROM e
""",
        # Transition replay: same (ts, event_id) in-user order, lag,
        # count, row-normalize.
        "event_transitions": """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
         event_type AS next_state
  FROM events),
c AS (SELECT prev_state, next_state, count(*) AS n
      FROM p WHERE prev_state IS NOT NULL GROUP BY 1, 2)
SELECT prev_state, next_state, n,
  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_state), 6) AS p
FROM c
""",
        # PMI replay: distinct (basket, item) pairs self-joined a<b per
        # basket; marginals count baskets containing the item; baskets
        # with >= 2 distinct items only (the Spark basket filter).
        "code_pmi": """
WITH bi AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour, event_type AS item
  FROM events),
sized AS (
  SELECT user_id, hour FROM bi GROUP BY 1, 2 HAVING count(*) >= 2),
b2 AS (SELECT bi.* FROM bi JOIN sized USING (user_id, hour)),
nb AS (SELECT count(*) AS n_baskets FROM sized),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_pair
  FROM b2 a JOIN b2 b
    ON a.user_id = b.user_id AND a.hour = b.hour AND a.item < b.item
  GROUP BY 1, 2),
marg AS (SELECT item, count(*) AS n_item FROM b2 GROUP BY 1)
SELECT item_a, item_b, n_pair,
  round(log2((n_pair * n_baskets)::DOUBLE / (ma.n_item * mb.n_item)), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.item = pairs.item_a
JOIN marg mb ON mb.item = pairs.item_b
CROSS JOIN nb
""",
        # Incremental shard-merge replay: the merged result must equal
        # the ONE-SHOT aggregation — so the oracle is exactly the
        # agg_code_metadata SQL. That identity (not a re-simulation of
        # the merge) is the property under test.
        "incremental_code_agg": f"""
WITH {_MEDS_CTE}
SELECT code,
  count(DISTINCT patient_id) AS "code/n_patients",
  count(*) AS "code/n_occurrences",
  count(DISTINCT CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) THEN patient_id END) AS "values/n_patients",
  count(CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) THEN 1 END) AS "values/n_occurrences",
  count(CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) AND round(numeric_value) = numeric_value THEN 1 END) AS "values/n_ints",
  round(coalesce(sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 0), 6) AS "values/sum",
  round(coalesce(sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value * numeric_value END), 0), 6) AS "values/sum_sqd",
  round(min(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 6) AS "values/min",
  round(max(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END), 6) AS "values/max"
FROM meds GROUP BY code
""",
        "agg_all_codes": f"""
WITH {_MEDS_CTE}
SELECT code,
  count(DISTINCT patient_id) AS "code/n_patients",
  count(*) AS "code/n_occurrences",
  round(coalesce(sum(numeric_value), 0), 6) AS "values/sum"
FROM meds GROUP BY ROLLUP(code)
""",
        "filter_patients_min_measurements": f"""
WITH {_MEDS_CTE}
SELECT patient_id, "time", code, event_id FROM meds
WHERE patient_id IN (
  SELECT patient_id FROM meds GROUP BY patient_id HAVING count(*) >= 8)
""",
        "filter_patients_min_events": f"""
WITH {_MEDS_CTE}
SELECT patient_id, "time", code, event_id FROM meds
WHERE patient_id IN (
  SELECT patient_id FROM meds GROUP BY patient_id
  HAVING count(DISTINCT "time") + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END) >= 8)
""",
        "filter_measurements": f"""
WITH {_MEDS_CTE}
SELECT patient_id, "time", code, event_id FROM meds
WHERE code IN (
  SELECT code FROM meds GROUP BY code
  HAVING count(DISTINCT patient_id) >= 30 AND count(*) >= 50)
""",
        "fit_vocabulary_indices": f"""
WITH {_MEDS_CTE},
agg AS (SELECT code, count(*) AS n FROM meds GROUP BY code)
SELECT code, n AS "code/n_occurrences",
       row_number() OVER (ORDER BY code NULLS FIRST) AS "code/vocab_index"
FROM agg
""",
        "normalization": f"""
WITH {_MEDS_CTE},
stats AS (
  SELECT code,
    row_number() OVER (ORDER BY code NULLS FIRST) AS vocab,
    sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value END) AS s,
    sum(CASE WHEN NOT isnan(numeric_value) THEN numeric_value*numeric_value END) AS s2,
    count(CASE WHEN numeric_value IS NOT NULL AND NOT isnan(numeric_value) THEN 1 END) AS n
  FROM meds GROUP BY code)
SELECT m.patient_id, m."time", m.event_id, st.vocab AS code,
  round((m.numeric_value - st.s/st.n) / sqrt(st.s2/st.n - (st.s/st.n)*(st.s/st.n)), 6) AS numeric_value
FROM meds m JOIN stats st USING (code)
""",
        "occlude_outliers": f"""
WITH {_MEDS_CTE},
stats AS (
  SELECT code,
    sum(numeric_value) / count(numeric_value) AS mean,
    sqrt(sum(numeric_value*numeric_value)/count(numeric_value)
         - (sum(numeric_value)/count(numeric_value))^2) AS std
  FROM meds GROUP BY code)
SELECT m.patient_id, m."time", m.event_id, m.code,
  round(CASE WHEN inl THEN m.numeric_value END, 6) AS numeric_value,
  CASE WHEN m.numeric_value IS NULL THEN NULL ELSE coalesce(inl, false) END AS "numeric_value/is_inlier"
FROM (
  SELECT m.*,
    m.numeric_value BETWEEN st.mean - 1.5*st.std AND st.mean + 1.5*st.std AS inl
  FROM meds m LEFT JOIN stats st USING (code)) m
""",
        "add_age": f"""
WITH {_MEDS_CTE},
dob AS (SELECT patient_id, min("time") AS dob FROM meds GROUP BY patient_id)
SELECT DISTINCT m.patient_id, m."time", 'AGE' AS code,
  round((epoch(m."time") - epoch(d.dob)) / 86400.0, 6) AS age_days
FROM meds m JOIN dob d USING (patient_id)
WHERE epoch(m."time") > epoch(d.dob)
""",
        "add_time_of_day": f"""
WITH {_MEDS_CTE}
SELECT DISTINCT patient_id, "time",
  CASE WHEN hour("time") < 6 THEN 'TIME_OF_DAY//[00,06)'
       WHEN hour("time") < 12 THEN 'TIME_OF_DAY//[06,12)'
       WHEN hour("time") < 18 THEN 'TIME_OF_DAY//[12,18)'
       ELSE 'TIME_OF_DAY//[18,24)' END AS code
FROM meds WHERE "time" IS NOT NULL
""",
        "time_delta_days": f"""
WITH {_MEDS_CTE}
SELECT patient_id, event_id,
  round((epoch("time") - lag(epoch("time")) OVER
    (PARTITION BY patient_id ORDER BY "time", event_id)) / 86400.0, 6)
  AS time_delta_days
FROM meds
""",
        "canonical_sort_rank": f"""
WITH {_MEDS_CTE}
SELECT patient_id, event_id,
  row_number() OVER (PARTITION BY patient_id ORDER BY "time" NULLS FIRST, event_id)
  AS rank_in_patient
FROM meds
""",
        "dedup_keep_first": f"""
WITH {_MEDS_CTE}
SELECT patient_id, code, "time", event_id FROM (
  SELECT *, row_number() OVER
    (PARTITION BY patient_id, code ORDER BY "time", event_id) AS rn
  FROM meds) WHERE rn = 1
""",
        "union_by_name": f"""
WITH {_MEDS_CTE}
-- event_id is nullable-BIGINT on both engines and STRUCTURALLY null (the
-- first UNION branch is a NULL literal), so both sides reach pandas as
-- float64 for any data; tests/test_oracle_dtype_parity.py asserts it.
SELECT patient_id, code, round(CAST(CAST(numeric_value AS FLOAT) AS DOUBLE), 6) AS v,
       NULL::BIGINT AS event_id FROM meds
UNION ALL
SELECT patient_id, NULL AS code, round(event_id, 6) AS v, event_id FROM meds
""",
        "tokenize_schema": f"""
WITH {_MEDS_CTE}
SELECT patient_id, epoch_us(min("time")) AS start_epoch,
  array_to_string(list_sort(list(DISTINCT epoch_us("time"))), ',') AS times_epoch
FROM meds WHERE "time" IS NOT NULL GROUP BY patient_id
""",
        "tokenize_event_seqs": f"""
WITH {_MEDS_CTE},
ev AS (
  SELECT patient_id, "time",
    list(code ORDER BY event_id) AS codes
  FROM meds WHERE "time" IS NOT NULL GROUP BY patient_id, "time"),
seq AS (
  SELECT patient_id, "time", codes,
    round(coalesce((epoch("time") - lag(epoch("time")) OVER
      (PARTITION BY patient_id ORDER BY "time")) / 86400.0, -1.0) * 1e6)::BIGINT
    AS microdays
  FROM ev)
SELECT patient_id,
  array_to_string(list(microdays::VARCHAR ORDER BY "time"), ',') AS delta_microdays,
  array_to_string(list(array_to_string(codes, '|') ORDER BY "time"), ';') AS code_seq
FROM seq GROUP BY patient_id
""",
        "patient_id_harvest": """
SELECT DISTINCT patient_id FROM (
  SELECT user_id AS patient_id FROM events
  UNION ALL SELECT c_custkey FROM customer)
WHERE patient_id IS NOT NULL
""",
        "dup_code_check": f"""
WITH {_MEDS_CTE}
SELECT code, patient_id, count(*) AS n FROM meds
GROUP BY code, patient_id HAVING count(*) > 10
""",
        "metadata_merge_agg": """
SELECT p_brand,
  string_agg(p_name, ';' ORDER BY p_name) AS descriptions,
  count(*) AS n_parts
FROM part GROUP BY p_brand
""",
        "metadata_enrich_full_outer": f"""
WITH {_MEDS_CTE},
old AS (SELECT code, count(*) AS n_even, 'even:' || code AS description
        FROM meds WHERE patient_id % 2 = 0 GROUP BY code),
new AS (SELECT code, count(*) AS n_odd, 'odd:' || code AS description
        FROM meds WHERE patient_id % 2 = 1 GROUP BY code)
SELECT coalesce(old.code, new.code) AS code,
  coalesce(old.description, new.description) AS description,
  old.n_even, new.n_odd
FROM old FULL OUTER JOIN new ON old.code IS NOT DISTINCT FROM new.code
""",
        "code_construction": """
SELECT event_id,
  'EVT' || '//' || coalesce(event_type, 'UNK') || '//' ||
  coalesce(CASE WHEN value > 0.5 THEN props END, 'UNK') AS code
FROM events
""",
        "time_parse": """
SELECT event_id,
  CASE WHEN event_id % 2 = 0
    THEN strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
    ELSE strptime(strftime(ts, '%m/%d/%Y, %H:%M:%S'), '%m/%d/%Y, %H:%M:%S')
  END AS parsed_ts
FROM events
""",
        "typed_coercion": """
SELECT event_id, TRY_CAST(props AS DOUBLE) AS props_num,
       CAST(value AS VARCHAR) AS value_str
FROM events
""",
        "regex_filter": """
SELECT p_partkey, p_type, p_name FROM part
WHERE regexp_matches(p_type, '^(ECON|PRO)')
  AND regexp_matches(p_name, '[aeiou]{2}')
""",
        "datetime_parts": """
SELECT event_id, hour(ts) AS h, day(ts) AS dom, month(ts) AS mon,
  round(epoch(ts) - lag(epoch(ts)) OVER
    (PARTITION BY user_id ORDER BY ts, event_id), 6) AS secs_since_prev
FROM events
""",
        "integral_values": """
SELECT event_type,
  count(CASE WHEN round(value) = value THEN 1 END) AS n_ints,
  count(value) AS n_vals
FROM events GROUP BY event_type
""",
        "fill_to_nans": """
SELECT event_id,
  (value > 0.99 OR value < 0.01) AS became_nan,
  round(CASE WHEN value <= 0.99 AND value >= 0.01 THEN value END, 6) AS kept_value
FROM events
""",
        "shipping_priority": """
WITH revenue AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
    round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    AND c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue, rk FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rk
  FROM revenue) WHERE rk <= 10
""",
        "forecast_revenue": """
SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 6) AS sum_qty,
  round(sum(l_extendedprice), 6) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "revenue_by_nation": """
SELECT n_name, r_name,
  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
  count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
        "top_orders_per_customer": """
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice, rk FROM (
  SELECT *, row_number() OVER
    (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
""",
        "hourly_event_counts": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  round(sum(value), 6) AS value_sum
FROM events GROUP BY 1, 2
""",
        "distinct_twophase": """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
        "code_patients_hll": """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
        "mixture_sample": """
WITH b AS (
  SELECT source,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS bucket
  FROM documents)
SELECT source, count(*) AS n_docs FROM b
WHERE bucket < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                           WHEN 'src2' THEN 0.25 ELSE 0.1 END
GROUP BY source
""",
        "pack_sequences": r"""
WITH t AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
  FROM documents),
b AS (
  SELECT shard,
    CAST(floor((sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING) - n) / 2048.0) AS BIGINT) AS bin,
    n FROM t)
SELECT shard, bin, count(*) AS n_docs, sum(n)::BIGINT AS token_sum,
  round(sum(n) / 2048.0, 6) AS fill_ratio
FROM b GROUP BY 1, 2
""",
        "corpus_curation": fr"""
WITH w AS (
  SELECT doc_id, text,
    {TEXT.sql()} AS words
  FROM documents),
stats AS (
  SELECT doc_id, text,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS mean_word_len,
    length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS punct_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS digit_ratio,
    len(list_filter(words, x -> list_contains(
      ['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS stopword_ratio
  FROM w),
kept AS (
  SELECT doc_id, text FROM stats
  WHERE n_words BETWEEN 30 AND 100000
    AND punct_ratio <= 0.2 AND digit_ratio <= 0.2
    AND stopword_ratio >= 0.02
    AND mean_word_len BETWEEN 3.0 AND 12.0),
ded AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
base AS (SELECT k.doc_id, k.text FROM kept k JOIN ded USING (doc_id)),
spl AS (
  SELECT
    CASE WHEN b < 0.9 THEN 'train'
         WHEN b < 0.95 THEN 'validation'
         ELSE 'test' END AS split,
    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n
  FROM (SELECT doc_id, text,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS b
    FROM base))
SELECT split, count(*) AS n_docs, sum(n)::BIGINT AS token_sum FROM spl GROUP BY 1
""",
        "hash_split": """
WITH u AS (SELECT DISTINCT user_id FROM events),
b AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
        / 4294967296.0 AS bucket FROM u)
SELECT CASE WHEN bucket < 0.8 THEN 'train'
            WHEN bucket < 0.9 THEN 'tuning'
            ELSE 'held_out' END AS split,
  count(*) AS n_users
FROM b GROUP BY 1
""",
        "funnel_conversion": """
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id)
SELECT count(first_signup) AS n_signed,
  count(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
FROM per_user
""",
        "retention_cohort": """
WITH fd AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events)
SELECT CAST(cohort_date AS VARCHAR) AS cohort_date,
  datediff('day', cohort_date, active_date) AS day_offset,
  count(DISTINCT user_id) AS n_users
FROM act JOIN fd USING (user_id)
GROUP BY 1, 2
""",
        "orders_histogram": """
SELECT n_orders, count(*) AS n_customers FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY n_orders
""",
        "json_props_stats": """
SELECT event_type,
  count(k) AS n_k,
  round(avg(k), 6) AS avg_k,
  max(k) AS max_k
FROM (SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k
      FROM events)
GROUP BY event_type
""",
        "event_user_enrich": """
SELECT c_mktsegment, event_type, count(*) AS n,
  round(sum(value), 6) AS value_sum
FROM events LEFT JOIN (
  SELECT c_custkey AS user_id, c_mktsegment FROM customer) USING (user_id)
GROUP BY c_mktsegment, event_type
""",
        "order_restore": """
WITH meds AS (
  SELECT user_id AS patient_id, ts AS "time", event_type AS code, event_id
  FROM events),
idx AS (
  SELECT *, row_number() OVER (ORDER BY patient_id, "time", event_id) - 1
    AS "__row_idx__"
  FROM meds),
dim AS (SELECT code, count(*) AS code_n FROM meds GROUP BY code)
SELECT event_id, "__row_idx__", code_n
FROM idx LEFT JOIN dim USING (code)
""",
        "embedding_topk_vectorized": """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
    sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM emb WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
    round(list_sum(list_transform(range(1, len(e.v) + 1), i -> q.qv[i] * e.v[i]))
          / (q.qn * e.nrm), 9) AS cos
  FROM q CROSS JOIN emb e),
ranked AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
""",
        "value_percentiles": """
SELECT event_type,
  round(quantile_cont(value, 0.25), 6) AS p25,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY event_type
""",
        "cube_revenue": """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  round(sum(l_extendedprice), 6) AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "pivot_status": """
SELECT l_returnflag,
  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 6) AS qty_O,
  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 6) AS qty_F
FROM lineitem GROUP BY l_returnflag
""",
        "sessionize": """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id, min(ts) AS first_event, max(ts) AS last_event,
  count(*) AS n_events, round(sum(value), 6) AS value_sum
FROM numbered GROUP BY user_id, sid
""",
        "reorder_rank": f"""
WITH {_MEDS_CTE},
idx AS (
  SELECT code,
    CASE WHEN regexp_matches(code, '^error$') THEN 0
         WHEN regexp_matches(code, '^p') THEN 1
         ELSE 2 END AS oidx
  FROM (SELECT DISTINCT code FROM meds))
SELECT patient_id, event_id, code,
  row_number() OVER (PARTITION BY patient_id, "time"
                     ORDER BY oidx, event_id) AS rank_in_event
FROM meds JOIN idx USING (code)
""",
        "text_quality": fr"""
WITH w AS (
  SELECT doc_id, text,
    {TEXT.sql()} AS words
  FROM documents)
SELECT doc_id,
  length(text) AS n_chars,
  len(words) AS n_words,
  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens_ws,
  round(list_sum(list_transform(words, x -> length(x)))::DOUBLE
        / (CASE WHEN len(words) > 0 THEN len(words) END), 6) AS mean_word_len,
  round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))::DOUBLE
        / (CASE WHEN length(text) > 0 THEN length(text) END), 6) AS punct_ratio,
  round(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
        / (CASE WHEN length(text) > 0 THEN length(text) END), 6) AS digit_ratio,
  round(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
        / (CASE WHEN length(text) > 0 THEN length(text) END), 6) AS upper_ratio,
  round(len(list_filter(words, x -> list_contains(
      ['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], x)))::DOUBLE
        / (CASE WHEN len(words) > 0 THEN len(words) END), 6) AS stopword_ratio
FROM w
""",
        "quality_filter": fr"""
WITH w AS (
  SELECT doc_id, text,
    {TEXT.sql()} AS words
  FROM documents),
stats AS (
  SELECT doc_id,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS mean_word_len,
    length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS punct_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
      / (CASE WHEN length(text) > 0 THEN length(text) END) AS digit_ratio,
    len(list_filter(words, x -> list_contains(
      ['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], x)))::DOUBLE
      / (CASE WHEN len(words) > 0 THEN len(words) END) AS stopword_ratio
  FROM w)
SELECT doc_id, n_words, round(stopword_ratio, 6) AS stopword_ratio
FROM stats
WHERE n_words BETWEEN 30 AND 100000
  AND punct_ratio <= 0.2 AND digit_ratio <= 0.2
  AND stopword_ratio >= 0.02
  AND mean_word_len BETWEEN 3.0 AND 12.0
""",
        "tfidf_top_terms": f"""
WITH w AS (
  SELECT doc_id AS id,
    unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                       x -> length(x) >= 4)) AS word
  FROM documents),
tf AS (SELECT id, word, count(*) AS tf FROM w GROUP BY 1, 2),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT id, word,
    round(tf * ln(n_docs::DOUBLE / df), 9) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n)
SELECT id, word, rank FROM (
  SELECT id, word,
    row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, word) AS rank
  FROM scored) WHERE rank <= 3
""",
        "sliding_window_counts": """
WITH starts AS (
  SELECT date_trunc('hour', ts) AS w0, ts, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, ts, event_type, value FROM events)
SELECT w0 AS window_start, event_type,
  count(*) AS n_events, round(sum(value), 6) AS value_sum
FROM starts GROUP BY 1, 2
""",
        "language_id": f"""
WITH w AS (
  SELECT doc_id,
    {TEXT.sql()} AS words
  FROM documents),
scored AS (
  SELECT doc_id,
    len(list_filter(words, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], x))) AS s_en,
    len(list_filter(words, x -> list_contains(['le','la','les','de','des','et','un','une','du','est','que','pour','dans','qui','au'], x))) AS s_fr,
    len(list_filter(words, x -> list_contains(['der','die','das','und','ist','von','mit','den','im','für','auf','des','ein','eine','nicht'], x))) AS s_de,
    len(list_filter(words, x -> list_contains(['el','la','los','las','de','y','que','en','un','una','es','por','con','para','del'], x))) AS s_es
  FROM w)
SELECT doc_id,
  CASE WHEN s > 0 THEN lang ELSE 'und' END AS lang_pred,
  s AS stopword_hits
FROM (
  SELECT doc_id, lang, s,
    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang DESC) AS rn
  FROM (
    SELECT doc_id, 'en' AS lang, s_en AS s FROM scored
    UNION ALL SELECT doc_id, 'fr', s_fr FROM scored
    UNION ALL SELECT doc_id, 'de', s_de FROM scored
    UNION ALL SELECT doc_id, 'es', s_es FROM scored))
WHERE rn = 1
""",
        "token_count": r"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens_ws,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens_bpe
FROM documents
""",
        "doc_fingerprint": f"""
WITH w AS (
  SELECT doc_id,
    {TEXT.sql()} AS words
  FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT, list_transform(words, w ->
      list_reduce(
        list_prepend(0::BIGINT, list_transform(string_split(w, ''), ch -> ascii(ch)::BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647))),
    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint
FROM w
""",
        "minhash_near_dup": _minhash_oracle_sql(),
        "pagerank_trade": _pagerank_oracle_sql(),
        "lsh_topk": _lsh_topk_oracle_sql(),
        "patient_split_filter": _patient_split_oracle_sql(),
        "ivf_topk": _ivf_topk_oracle_sql(),
        "pq_topk": _pq_topk_oracle_sql(),
        "pq_topk_rerank": _pq_topk_rerank_oracle_sql(),
        "hybrid_search": _HYBRID_SEARCH_ORACLE_SQL,
        "mmr_topk": _mmr_topk_oracle_sql(),
        # round-11 registrations: the staged oracles promoted verbatim
        # (already sf-independent static SQL over the registered views)
        "window_funnel": _WINDOW_FUNNEL_ORACLE_SQL,
        "monthly_retention": _MONTHLY_RETENTION_ORACLE_SQL,
        # round-12 registrations: the staged oracles promoted (the
        # touch_attribution channel join upgraded to IS NOT DISTINCT
        # FROM at promotion — ADVICE r12 item 3; value-identical on data
        # without null event types, re-checked at three SFs)
        "touch_attribution": _TOUCH_ATTRIBUTION_ORACLE_SQL,
        "session_paths": _SESSION_PATHS_ORACLE_SQL,
        # round-13 registrations: the staged oracles promoted verbatim
        # (already sf-independent static SQL over the registered views;
        # registration-grade pre-checked at three SFs in round 12)
        "approx_percentile_profile": _APPROX_PERCENTILE_PROFILE_ORACLE_SQL,
        "bitemporal_asof": _BITEMPORAL_ASOF_ORACLE_SQL,
        # round-14 registrations: the round-13 staged oracles promoted
        # verbatim (sf-independent static SQL, three-SF pre-checked by
        # scripts/check_staged.py 18/18 in round 13 and re-run on this
        # commit), plus the streaming-twin invariant oracles.
        "audience_overlap": _AUDIENCE_OVERLAP_ORACLE_SQL,
        "hll_user_overlap": _HLL_USER_OVERLAP_ORACLE_SQL,
        "stratified_sample": _STRATIFIED_SAMPLE_ORACLE_SQL,
        "weighted_group_sample": _WEIGHTED_GROUP_SAMPLE_ORACLE_SQL,
        "kcore_trade": _kcore_oracle_sql(),
        "stress_centrality": _stress_oracle_sql(),
        "streaming_hll_overlap": _STREAMING_HLL_OVERLAP_ORACLE_SQL,
        "streaming_percentile_profile": _STREAMING_PERCENTILE_PROFILE_ORACLE_SQL,
        "jl_topk": _jl_topk_oracle_sql(),
        "bpe_encode": _bpe_encode_oracle_sql(),
        # Weighted-sample replay: same md5 u-draw, exponential-race key
        # -ln(u)/w, round(9) + id tiebreak, top-50.
        "weighted_sample": """
WITH s AS (
  SELECT doc_id, n_chars,
    -ln(((('0x' || substr(md5(doc_id || ':s0'), 1, 15))::BIGINT % 2147483647) + 1)::DOUBLE
        / 2147483648.0) / n_chars::DOUBLE AS key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, n_chars FROM s ORDER BY round(key, 9), doc_id LIMIT 50
""",
        # Triangle replay: direct u<v<w three-way self-join over the
        # canonical undirected co-supplier edges.
        "triangles": """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)
SELECT count(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
""",
        # Span-dedup replay: identical 20-word tiling (1-based list_slice
        # == Spark F.slice), keep-first by (doc_id, idx) via row_number
        # over the span STRING (Spark elects per sha2(span) — equal
        # winners absent collisions), ordered string_agg reassembly.
        "span_dedup": """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
spans AS (
  SELECT doc_id, t.i AS idx,
         array_to_string(list_slice(w, t.i*20+1, t.i*20+20), ' ') AS span
  FROM words, unnest(range(0, cast(ceil(len(w)/20.0) AS BIGINT))) AS t(i)
),
winners AS (
  SELECT doc_id, idx FROM (
    SELECT doc_id, idx, row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
    FROM spans) WHERE rn = 1),
joined AS (
  SELECT s.doc_id, string_agg(s.span, ' ' ORDER BY s.idx) AS text
  FROM spans s JOIN winners u ON s.doc_id = u.doc_id AND s.idx = u.idx
  GROUP BY 1)
SELECT doc_id, text FROM joined WHERE length(text) > 0
""",
        # LPA replay: 3 synchronous rounds unrolled (most-frequent
        # neighbor label, ties -> smallest) over the undirected trade
        # graph; row_number(count DESC, label ASC) == Spark's
        # max(struct(cnt, -label)) argmax.
        "label_propagation": """
WITH e0 AS (SELECT DISTINCT l_suppkey AS s, o_custkey + 10000000 AS d
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
c1 AS (SELECT e.s AS node, l.label, count(*) AS n FROM e JOIN l0 l ON e.d = l.node GROUP BY 1,2),
l1 AS (SELECT node, label FROM (SELECT node, label,
        row_number() OVER (PARTITION BY node ORDER BY n DESC, label) rn FROM c1) WHERE rn = 1),
c2 AS (SELECT e.s AS node, l.label, count(*) AS n FROM e JOIN l1 l ON e.d = l.node GROUP BY 1,2),
l2 AS (SELECT node, label FROM (SELECT node, label,
        row_number() OVER (PARTITION BY node ORDER BY n DESC, label) rn FROM c2) WHERE rn = 1),
c3 AS (SELECT e.s AS node, l.label, count(*) AS n FROM e JOIN l2 l ON e.d = l.node GROUP BY 1,2),
l3 AS (SELECT node, label FROM (SELECT node, label,
        row_number() OVER (PARTITION BY node ORDER BY n DESC, label) rn FROM c3) WHERE rn = 1)
SELECT node, label FROM l3
""",
        # Binned-quantile replay: same clamp/width arithmetic; the
        # estimate is the upper edge of the first bin whose cumulative
        # count reaches q*total.
        "binned_quantiles": """
WITH h AS (SELECT l_returnflag,
    least(greatest(cast(floor(l_extendedprice/100.0) AS BIGINT), 0), 1199) AS bin,
    count(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1,2),
c AS (SELECT l_returnflag, bin,
    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
    sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM h),
qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q)
SELECT l_returnflag, q, round(min(bin + 1) * 100.0, 9) AS est
FROM c CROSS JOIN qs WHERE cum >= q * tot GROUP BY 1, 2
""",
        # Dim-stats replay: zipped unnest (value, position); population
        # std via the same sum/sumsq formula the Spark reduce uses.
        "embedding_dim_stats": """
WITH x AS (SELECT unnest(embedding)::DOUBLE AS v,
                  unnest(range(len(embedding))) AS dim FROM embeddings)
SELECT dim, count(*) AS n,
  round(sum(v)/count(*), 6) AS mean,
  round(sqrt(sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*))), 6) AS std
FROM x GROUP BY 1
""",
        # Standardize replay: stats CTE rounds to 6 exactly like the
        # Spark fit step, z folded in dim order (ORDER BY dim inside the
        # aggregate == Spark's sequential F.aggregate over the array).
        "standardize_embeddings": """
WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                  unnest(range(len(embedding))) AS dim FROM embeddings),
st AS (SELECT dim,
  round(sum(v)/count(*), 6) AS mean,
  round(sqrt(sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*))), 6) AS std
  FROM x GROUP BY 1),
z AS (SELECT vec_id, dim, CASE WHEN std > 0 THEN (v - mean)/std ELSE v - mean END AS z
  FROM x JOIN st USING (dim))
SELECT vec_id, round(sum(z ORDER BY dim), 6) AS z_sum,
       round(sum(z*z ORDER BY dim), 6) AS z_sumsq
FROM z GROUP BY 1
""",
        # Temperature-mixture replay: alpha=0.5 shares over lang counts,
        # keep-rate min(1, share * total / count), same md5 bucket as
        # mixture_sample.
        "temperature_mixture": """
WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
t AS (SELECT sum(pow(c, 0.5)) AS wsum, sum(c) AS n FROM c),
r AS (SELECT lang, least(1.0, (pow(c, 0.5)/wsum) * (n/c)) AS rate FROM c CROSS JOIN t),
b AS (SELECT doc_id, lang,
   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS bucket
   FROM documents)
SELECT b.doc_id, b.lang FROM b JOIN r USING (lang) WHERE bucket < rate
""",
        # Novelty replay: same tokenization/5-gram CTE family as
        # ngram_jaccard; first-owner = min(doc_id) per shingle STRING
        # (Spark elects per xxhash64 — equal absent collisions).
        "novelty_score": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 5 THEN
      list_distinct(list_transform(range(1, len(words) - 3),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
first AS (SELECT g, min(doc_id) AS first_id FROM posts GROUP BY 1)
SELECT p.doc_id, count(*) AS n_shingles,
  -- ::BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64 (1.0), while
  -- Spark's non-null sum is int64 (1); the driver value hash distinguishes
  -- them (round-4 red row). count(*) is already BIGINT.
  sum(CASE WHEN p.doc_id = f.first_id THEN 1 ELSE 0 END)::BIGINT AS novel,
  round(sum(CASE WHEN p.doc_id = f.first_id THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS novelty
FROM posts p JOIN first f ON p.g = f.g
GROUP BY 1
""",
        # Winsorize replay: per-flag [0.05, 0.95] binned-quantile bounds
        # (same cell arithmetic as binned_quantiles), clamp, aggregate.
        "winsorize_quantile": """
WITH h AS (SELECT l_returnflag,
    least(greatest(cast(floor(l_extendedprice/100.0) AS BIGINT), 0), 1199) AS bin,
    count(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1,2),
c AS (SELECT l_returnflag, bin,
    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
    sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM h),
qs AS (SELECT unnest([0.05, 0.95]) AS q),
b AS (SELECT l_returnflag, q, round(min(bin + 1) * 100.0, 9) AS est
      FROM c CROSS JOIN qs WHERE cum >= q * tot GROUP BY 1, 2),
bounds AS (SELECT l_returnflag,
    min(CASE WHEN q = 0.05 THEN est END) AS lo,
    min(CASE WHEN q = 0.95 THEN est END) AS hi
  FROM b GROUP BY 1)
SELECT l.l_returnflag, count(*) AS n,
  round(sum(least(greatest(l_extendedprice, lo), hi)), 4) AS sum_clamped
FROM lineitem l JOIN bounds USING (l_returnflag)
GROUP BY 1
""",
        # Incremental-dedup replay: the shared portable-minhash CTE
        # verifies ALL pairs; keep cross-split ones (old < 400 <= new —
        # id_a < id_b makes id_a the old side).
        "incremental_dedup": f"""
WITH {{MINHASH_CTE}}
SELECT id_b AS new_id, id_a AS old_id, round(jaccard, 6) AS jaccard
FROM ver WHERE jaccard >= 0.5 AND id_a < 400 AND id_b >= 400
""".format(MINHASH_CTE=_minhash_pairs_cte()),
        # Containment replay: same shingle postings as ngram_jaccard,
        # directed pairs (a != b), divided by |A| only.
        "containment": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(n_inter::DOUBLE / sa.n, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE n_inter::DOUBLE / sa.n >= 0.5
""",
        # CMS replay: identical salted-md5 bucket addressing, per-cell
        # counts, min-over-rows point queries with absent cells as 0.
        "cms_freq": """
WITH cells AS (
  SELECT j AS row,
         ('0x' || substr(md5(j || ':' || l_suppkey), 1, 8))::BIGINT % 256 AS bucket,
         count(*) AS cnt
  FROM lineitem, UNNEST(range(0, 4)) AS t(j)
  GROUP BY 1, 2),
probes AS (SELECT DISTINCT l_suppkey AS probe FROM lineitem WHERE l_suppkey <= 10),
lk AS (
  SELECT probe, j AS row,
         ('0x' || substr(md5(j || ':' || probe), 1, 8))::BIGINT % 256 AS bucket
  FROM probes, UNNEST(range(0, 4)) AS t(j))
SELECT probe, min(coalesce(cnt, 0)) AS est
FROM lk LEFT JOIN cells USING (row, bucket)
GROUP BY 1
""",
        # Blocklist replay: unigram membership + bigram-shingle phrase
        # membership against the same literal term lists; ::INT matches
        # Spark's int arithmetic.
        "blocklist": f"""
WITH w AS (
  SELECT doc_id,
    {TEXT.sql()} AS words
  FROM documents),
h AS (
  SELECT doc_id,
    (len(list_filter(words, x -> list_contains(['slow'], x)))
     + CASE WHEN len(words) >= 2 THEN
         len(list_filter(
           list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1]),
           s -> list_contains(['hash join', 'table scan'], s)))
       ELSE 0 END)::INT AS n_hits
  FROM w)
SELECT doc_id, n_hits FROM h WHERE n_hits >= 1
""",
        # Logreg first-step replay: same hashed unigram+bigram postings
        # as clf_score, residual (0.5 - y) exact at zero init, weight =
        # -2^-8 * gradient; bucket -1 = bias. Buckets with no postings
        # emit weight 0 via the range left join.
        "logreg_step": f"""
WITH w AS (
  SELECT doc_id,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
    {TEXT.sql()} AS words
  FROM documents),
f AS (
  SELECT doc_id, y,
    list_concat(words,
      CASE WHEN len(words) >= 2 THEN
        list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])
      ELSE [] END) AS feats
  FROM w WHERE len(words) >= 1),
p AS (SELECT doc_id, y, len(feats) AS nf, unnest(feats) AS feat FROM f),
bk AS (
  SELECT doc_id, y, nf,
    ('0x' || substr(md5(feat), 1, 8))::BIGINT % 64 AS bucket
  FROM p),
x AS (
  SELECT doc_id, y, bucket, count(*)::DOUBLE / any_value(nf) AS x
  FROM bk GROUP BY 1, 2, 3),
g AS (SELECT bucket, sum((0.5 - y) * x) AS grad FROM x GROUP BY 1),
allb AS (SELECT i AS bucket FROM UNNEST(range(0, 64)) AS t(i))
SELECT allb.bucket, round(coalesce(-0.00390625 * g.grad, 0.0), 9) AS weight
FROM allb LEFT JOIN g ON allb.bucket = g.bucket
UNION ALL
SELECT -1 AS bucket,
       round(-0.00390625 * sum(0.5 - y), 9) AS weight
FROM (SELECT DISTINCT doc_id, y FROM x)
""",
        # CDC replay: per-word portable hashes -> boundary flags ->
        # chunk index as an exclusive prefix sum -> chunk hash of the
        # space-joined words, then the shared-chunk aggregation.
        "cdc_chunks": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
t AS (
  SELECT doc_id, words[i] AS word, i AS pos,
    CASE WHEN ('0x' || substr(md5(words[i]), 1, 15))::BIGINT % 16 = 0
         THEN 1 ELSE 0 END AS flag
  FROM w, UNNEST(range(1, len(words) + 1)) AS t2(i)
  WHERE len(words) >= 1),
c AS (
  SELECT doc_id, word, pos,
    coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS chunk_idx
  FROM t),
ch AS (
  SELECT doc_id, chunk_idx,
    ('0x' || substr(md5(string_agg(word, ' ' ORDER BY pos)), 1, 15))::BIGINT
      AS chunk_hash,
    count(*)::INT AS n_words
  FROM c GROUP BY 1, 2)
SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total,
       max(n_words) AS n_words
FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
""",
        # Winnowing replay: same md5-60bit 4-gram hashes; rightmost-min
        # per 5-window = left fold keeping b when b.h <= a.h (later
        # element wins ties); distinct selected hashes per doc, then the
        # posting self-join.
        "winnow_pairs": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 4 THEN
      list_transform(range(1, len(words) - 4 + 2), i ->
        ('0x' || substr(md5(array_to_string(list_slice(words, i, i + 3), ' ')), 1, 15))::BIGINT)
    ELSE [] END AS hs
  FROM w),
sel AS (
  SELECT doc_id,
    list_distinct(list_transform(range(0, greatest(len(hs) - 5, 0) + 1), p ->
      list_reduce(
        list_transform(range(p + 1, least(p + 5, len(hs)) + 1),
                       i -> {{'h': hs[i], 'i': i}}),
        (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END).h)) AS fps
  FROM g WHERE len(hs) >= 1),
fp AS (SELECT doc_id, unnest(fps) AS h FROM sel)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
""",
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        "repeated_spans": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
wins AS (
  SELECT doc_id, (i - 1)::INT AS start_word,
    ('0x' || substr(md5(array_to_string(list_slice(words, i, i + 9), ' ')), 1, 15))::BIGINT
      AS window_hash
  FROM w, UNNEST(range(1, greatest(len(words) - 10 + 2, 1))) AS t(i)
  WHERE len(words) >= 10),
dup AS (
  SELECT window_hash, count(DISTINCT doc_id) AS n_docs
  FROM wins GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
SELECT doc_id, start_word, (start_word + 10)::INT AS end_word, window_hash, n_docs
FROM wins JOIN dup USING (window_hash)
""",
        "min_cost_supplier": """
WITH unit AS (
  SELECT p_partkey, l_suppkey, round(l_extendedprice / l_quantity, 6) AS unit_cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size < 10),
best AS (SELECT p_partkey, min(unit_cost) AS min_cost FROM unit GROUP BY 1),
w AS (
  SELECT u.p_partkey, min(l_suppkey) AS s_suppkey, min(min_cost) AS unit_cost
  FROM unit u JOIN best b ON u.p_partkey = b.p_partkey AND u.unit_cost = b.min_cost
  GROUP BY 1)
SELECT p_partkey, s_name, n_name, round(unit_cost, 6) AS unit_cost
FROM w JOIN supplier USING (s_suppkey)
       JOIN nation ON s_nationkey = n_nationkey
""",
        "market_share": """
SELECT year(o_orderdate) AS o_year,
  round(sum(CASE WHEN s_nationkey = 0 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
""",
        "nation_profit": """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
  round(sum(l_extendedprice * (1 - l_discount)
            - p_retailprice * 0.5 * l_quantity), 4) AS profit
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY 1, 2
""",
        "important_parts": """
WITH vals AS (
  SELECT l_partkey, sum(l_extendedprice) AS value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 0
  GROUP BY 1)
SELECT l_partkey, round(value, 4) AS value
FROM vals
WHERE value > (SELECT sum(value) FROM vals) * 0.002
""",
        "supplier_cnt": """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
  SELECT p.l_partkey, p.l_suppkey
  FROM pairs p
  WHERE p.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM ok JOIN part ON l_partkey = p_partkey
WHERE p_brand NOT LIKE 'Brand#1%'
GROUP BY 1, 2, 3
""",
        "repetition_stats": f"""
WITH l AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM documents),
line_stats AS (
  SELECT doc_id,
    coalesce(sum(cnt) FILTER (cnt > 1), 0) AS dup_count,
    coalesce(sum(cnt * length(line)) FILTER (cnt > 1), 0) AS dup_chars,
    sum(cnt) AS n_lines,
    sum(cnt * length(line)) AS total_chars
  FROM (
    SELECT doc_id, line, count(*) AS cnt
    FROM (SELECT doc_id, unnest(lines) AS line FROM l)
    GROUP BY doc_id, line)
  GROUP BY doc_id),
w AS (
  SELECT doc_id,
    {TEXT.sql()} AS words
  FROM documents),
bg AS (
  SELECT doc_id, words,
    CASE WHEN len(words) >= 2 THEN
      list_transform(range(1, len(words)), i ->
        array_to_string(list_slice(words, i, i + 1), ' '))
    ELSE [] END AS bigrams
  FROM w),
bg_mass AS (
  SELECT doc_id, max(cnt * length(b)) AS top_mass
  FROM (
    SELECT doc_id, b, count(*) AS cnt
    FROM (SELECT doc_id, unnest(bigrams) AS b FROM bg)
    GROUP BY doc_id, b)
  GROUP BY doc_id),
wchars AS (
  SELECT doc_id,
    coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS word_chars
  FROM w)
SELECT d.doc_id,
  round(CASE WHEN coalesce(n_lines, 0) > 0
             THEN dup_count::DOUBLE / n_lines ELSE 0 END, 6) AS dup_line_frac,
  round(CASE WHEN coalesce(total_chars, 0) > 0
             THEN dup_chars::DOUBLE / total_chars ELSE 0 END, 6) AS dup_line_char_frac,
  round(CASE WHEN coalesce(word_chars, 0) > 0 AND top_mass IS NOT NULL
             THEN least(top_mass::DOUBLE / word_chars, 1.0) ELSE 0 END, 6)
    AS top_bigram_char_frac
FROM documents d
LEFT JOIN line_stats USING (doc_id)
LEFT JOIN bg_mass USING (doc_id)
LEFT JOIN wchars USING (doc_id)
""",
        "decontaminate": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1), i ->
        array_to_string(list_slice(words, i, i + 2), ' ')))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
bsh AS (
  SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 20 = 0),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
hits AS (
  SELECT doc_id, count(*) AS h
  FROM posts JOIN bsh USING (g) GROUP BY 1),
r AS (
  SELECT sh.doc_id,
         coalesce(h, 0)::DOUBLE / len(shingles) AS ratio
  FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id)
SELECT doc_id, round(ratio, 6) AS contaminated_ratio, ratio > 0.1 AS contaminated
FROM r
""",
        "embedding_near_dup_lsh": _embedding_near_dup_lsh_oracle_sql(),
        "image_features": """
WITH c AS (
  SELECT doc_id,
    CASE WHEN length(text) = 0 THEN []
         ELSE list_transform(string_split(text, ''), ch -> unicode(ch)::BIGINT)
    END AS bytes
  FROM documents)
SELECT doc_id,
  array_to_string(list_transform(range(0, 8), k ->
    round((coalesce(list_sum(list_transform(range(1, len(bytes) + 1), i ->
        CASE WHEN (i - 1) % 8 = k THEN bytes[i] ELSE 0 END)), 0)::DOUBLE
      / greatest(1, len(bytes)))::FLOAT::DOUBLE * 1e4)::BIGINT::VARCHAR), ',')
  AS features
FROM c
""",
        "audio_features": """
WITH kept AS (
  SELECT doc_id, text, (length(text)::BIGINT * 16) AS n_samples
  FROM documents WHERE length(text) * 16 >= 8000),
fr AS (
  SELECT doc_id, text,
    ((((n_samples // 160) - 1) // 30) + 1)::INT AS n_sampled
  FROM kept),
c AS (
  SELECT doc_id, n_sampled,
    CASE WHEN length(text) = 0 THEN []
         ELSE list_transform(string_split(text, ''), ch -> unicode(ch)::BIGINT)
    END AS bytes
  FROM fr)
SELECT doc_id, n_sampled,
  array_to_string(list_transform(range(0, 8), k ->
    round((coalesce(list_sum(list_transform(range(1, len(bytes) + 1), i ->
        CASE WHEN (i - 1) % 8 = k THEN bytes[i] ELSE 0 END)), 0)::DOUBLE
      / greatest(1, len(bytes)))::FLOAT::DOUBLE * 1e4)::BIGINT::VARCHAR), ',')
  AS features
FROM c
""",
        "simhash_buckets": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
h AS (
  SELECT doc_id,
    list_transform(words, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM w),
sig AS (
  SELECT doc_id,
    array_to_string(list_transform(range(0, 60), i ->
      CASE WHEN 2 * len(list_filter(hs, v -> ((v >> i) & 1) = 1)) > len(hs)
           THEN '1' ELSE '0' END), '') AS simhash
  FROM h)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM sig GROUP BY simhash HAVING count(*) > 1
""",
        "simhash_near_dup": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
h AS (
  SELECT doc_id,
    list_transform(words, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM w),
sig AS (
  SELECT doc_id,
    list_sum(list_transform(range(0, 60), i ->
      CASE WHEN 2 * len(list_filter(hs, v -> ((v >> i) & 1) = 1)) > len(hs)
           THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS s
  FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.s, b.s))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
""",
        "exact_dup_groups": """
WITH docs AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0)
SELECT count(*) AS n_dups, min(doc_id) AS canonical_id
FROM docs GROUP BY text HAVING count(*) > 1
""",
        "exact_dedup": """
WITH docs AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0)
SELECT doc_id, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM docs) WHERE rn = 1
""",
        "ngram_jaccard": f"""
WITH w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
  round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter::DOUBLE / (sa.n + sb.n - n_inter) >= 0.4
""",
        "dedup_clusters": f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter::DOUBLE / (sa.n + sb.n - n_inter) >= 0.4),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, root) AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id)
SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
""",
        "scrub_pii": r"""
WITH synth AS (
  SELECT doc_id,
    text || ' contact user' || doc_id::VARCHAR ||
      '@example.com or 10.0.0.1 or 555-867-5309 today' AS text
  FROM documents),
scrubbed AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '(?:\b(?:\+?\d{1,2}[ .-]?)?\d{3}|\(\d{3}\))[ .-]?\d{3}[ .-]?\d{4}\b', '<PHONE>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      '\b(?:\d[ -]?){13,16}\b', '<CARD>', 'g') AS text
  FROM synth)
SELECT doc_id, length(text) AS scrubbed_len,
  ((length(text) - length(replace(text, '<EMAIL>', ''))) / length('<EMAIL>'))::BIGINT AS n_email,
  ((length(text) - length(replace(text, '<IP>', ''))) / length('<IP>'))::BIGINT AS n_ip,
  ((length(text) - length(replace(text, '<PHONE>', ''))) / length('<PHONE>'))::BIGINT AS n_phone
FROM scrubbed
""",
        "chunk_documents": """
WITH starts AS (
  SELECT doc_id AS id, text,
    unnest(range(0, greatest(length(text) - 1, 0) + 1, 900)) AS s,
    generate_subscripts(range(0, greatest(length(text) - 1, 0) + 1, 900), 1) - 1 AS chunk_idx
  FROM documents)
SELECT id, chunk_idx,
  length(substr(text, s + 1, 1000)) AS chunk_len,
  md5(substr(text, s + 1, 1000)) AS chunk_md5
FROM starts
""",
        "unigram_entropy": f"""
WITH w AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                       x -> x <> '')) AS word
  FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2)
SELECT doc_id,
  round(ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf), 6) AS entropy
FROM tf GROUP BY doc_id
""",
        "lm_score": f"""
WITH t AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                       x -> x <> '')) AS w
  FROM documents),
c AS (SELECT w, count(*)::BIGINT AS c FROM t GROUP BY w),
n AS (SELECT sum(c)::BIGINT AS N FROM c)
SELECT doc_id, count(*) AS n_tokens,
  round(avg(ln(c::DOUBLE / N)), 6) AS lm_score
FROM t JOIN c USING (w) CROSS JOIN n GROUP BY doc_id
""",
        "near_dedup": f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
    {DEDUP.sql()} AS words
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3 THEN
      list_distinct(list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w),
posts AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter::DOUBLE / (sa.n + sb.n - n_inter) >= 0.4),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, root) AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
labels AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
""",
        "class_balanced": """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents) WHERE rn <= 10
""",
        "embedding_topk": """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
    sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM emb WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
    round(list_sum(list_transform(range(1, len(e.v) + 1), i -> q.qv[i] * e.v[i]))
          / (q.qn * e.nrm), 9) AS cos
  FROM q CROSS JOIN emb e),
ranked AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
""",
        "embedding_near_dup": """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
    sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS n
  FROM embeddings WHERE vec_id < 1000)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.n * b.n) >= 0.4
""",
        "asof_purchase_click": """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'purchase'),
c AS (
  SELECT event_id, user_id, us FROM (
    SELECT event_id, user_id, epoch_us(ts) AS us,
      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click') WHERE rn = 1)
SELECT p.event_id, p.user_id, p.us AS purchase_us,
  -- ::DOUBLE on BOTH sides (see q_asof_purchase_click): nullable join
  -- outputs must not let the pandas dtype depend on the data's null pattern.
  c.event_id::DOUBLE AS click_id, c.us::DOUBLE AS click_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
""",
        "range_join_events": """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
  epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 3600000000
""",
        "bloom_semi_filter": """
SELECT l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 6) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
GROUP BY l_returnflag
""",
        "local_supplier_volume": """
SELECT n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
  count(*) AS n_rows
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
""",
        "volume_shipping": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
        "promo_revenue": """
SELECT date_trunc('month', l_shipdate) AS ship_month,
  round(100 * sum(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
  count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
        "locf_impute": """
WITH e AS (
  SELECT event_id, user_id, event_type, ts,
    CASE WHEN event_id % 5 <> 0 THEN value END AS value
  FROM events)
SELECT event_id, user_id, event_type,
  round(last_value(value IGNORE NULLS) OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled
FROM e
""",
        "stream_interval_join": """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
  epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 3600000000
""",
        "resample_last": """
SELECT user_id, event_type, bucket_us, event_id, round(value, 6) AS value
FROM (
  SELECT user_id, event_type,
    (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
    event_id, value,
    row_number() OVER (
      PARTITION BY user_id, event_type, epoch_us(ts) // 86400000000
      ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""",
        "topk_pruned": """
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER
    (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
""",
        "late_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
        "returned_item_revenue": """
SELECT rk, c_custkey, c_name, revenue, c_acctbal, n_name FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name, revenue,
         row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rk
  FROM (
    SELECT c_custkey, c_name, c_acctbal, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name))
WHERE rk <= 20
""",
        "ship_priority_mix": """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
""",
        "top_supplier": """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 6)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
        "small_qty_revenue": """
SELECT p_brand, round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN (SELECT l_partkey AS ap, avg(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.ap
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
GROUP BY p_brand
""",
        "large_volume_customers": """
SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
       round(o_totalprice, 6) AS o_totalprice, sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) b
JOIN orders ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "brand_predicate_revenue": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
""",
        "dormant_customers": """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 6) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""",
        "moving_avg_revenue": """
SELECT epoch_us(day) AS day_us, round(cents / 100.0, 6) AS revenue,
       round(sum(cents) OVER w7 / (100.0 * count(*) OVER w7), 6) AS ma7,
       round(sum(cents) OVER wc / 100.0, 6) AS cum_revenue
FROM (SELECT date_trunc('day', o_orderdate) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1)
WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       wc AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "ntile_acctbal": """
SELECT c_custkey, c_nationkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
        "unpivot_nation_metrics": """
WITH wide AS (
  SELECT n_name, round(sum(c_acctbal), 6) AS sum_bal,
         round(avg(c_acctbal), 6) AS avg_bal,
         CAST(count(*) AS DOUBLE) AS n_cust
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, 'sum_bal' AS metric, sum_bal AS value FROM wide
UNION ALL SELECT n_name, 'avg_bal', avg_bal FROM wide
UNION ALL SELECT n_name, 'n_cust', n_cust FROM wide
""",
        "only_late_supplier": """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
  FROM lineitem GROUP BY l_orderkey, l_suppkey),
w1 AS (
  SELECT l_orderkey, l_suppkey, s_max,
         max(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp
  FROM per_os),
flagged AS (
  SELECT *, sum(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
              OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM w1)
SELECT s_name, count(*) AS numwait
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_at_max = 1 AND s_max = o_max
GROUP BY s_name
""",
        "user_streaks": """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
isl AS (
  SELECT user_id, d,
         CAST(epoch(d) AS BIGINT) // 86400
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g
  FROM days)
SELECT user_id, epoch_us(min(d)) AS start_us, count(*) AS streak_len
FROM isl GROUP BY user_id, g
""",
        "bitmap_distinct_users": """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
        "argmax_customer": """
SELECT c_nationkey, best_custkey, best_name,
       round(best_acctbal, 6) AS best_acctbal FROM (
  SELECT c_nationkey, c_custkey AS best_custkey, c_name AS best_name,
         c_acctbal AS best_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
  FROM customer) WHERE rn = 1
""",
        "group_median": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       round(quantile_cont(value, 0.9), 6) AS p90_value,
       count(*) AS n_values
FROM events WHERE value IS NOT NULL
GROUP BY event_type
""",
        "fuzzy_name_pairs": """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a, customer b
WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1
""",
        "grouping_sets_revenue": """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
        "profile_events": """
SELECT 'event_id' AS "column", count(*) AS n_rows,
       sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT event_id) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_repr,
       CAST(max(event_id) AS VARCHAR) AS max_repr
FROM events
UNION ALL
SELECT 'user_id', count(*),
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', count(*),
       sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT event_type),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
UNION ALL
SELECT 'value', count(*),
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT value),
       CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
FROM events
""",
        "heavy_hitters": """
SELECT event_type, user_id, n_events, rk FROM (
  SELECT event_type, user_id, n_events,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, user_id) AS rk
  FROM (SELECT event_type, user_id, count(*) AS n_events
        FROM events GROUP BY 1, 2))
WHERE rk <= 5
""",
        "interpolate_values": """
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS t_us, CAST(value AS DOUBLE) AS obs_v,
         0 AS is_grid, event_id
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
spans AS (SELECT user_id, min(t_us) AS lo, max(t_us) AS hi
          FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(range(lo - lo % 21600000000, hi + 1, 21600000000))
           AS t_us,
         NULL::DOUBLE AS obs_v, 1 AS is_grid, NULL::BIGINT AS event_id
  FROM spans),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
e AS (
  SELECT user_id, t_us, is_grid,
    last_value(obs_v IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS) OVER wb AS pt,
    first_value(obs_v IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS) OVER wf AS nt
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY t_us, is_grid, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY t_us, is_grid, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, t_us AS grid_us,
       round(CASE
         WHEN pt IS NULL THEN NULL
         WHEN pt = t_us THEN pv
         WHEN nt IS NULL THEN NULL
         ELSE pv + (nv - pv) * ((t_us - pt) / CAST(nt - pt AS DOUBLE))
       END, 6) AS interp_value
FROM e WHERE is_grid = 1
""",
        "scd2_priority": """
WITH marked AS (
  SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey,
         CASE WHEN row_number() OVER w = 1 THEN 1
              WHEN o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w
                THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
versioned AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS ver
  FROM marked),
intervals AS (
  SELECT o_custkey, ver, o_orderpriority, min(o_orderdate) AS valid_from
  FROM versioned GROUP BY o_custkey, ver, o_orderpriority)
-- to_us is nullable-BIGINT on both engines and STRUCTURALLY null (the
-- last interval of every customer has lead()=NULL), so both sides reach
-- pandas as float64 for any data; tests/test_oracle_dtype_parity.py
-- asserts the structural-null property so a change can't flip the dtype.
SELECT o_custkey, o_orderpriority, epoch_us(valid_from) AS from_us,
       epoch_us(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY ver))
         AS to_us
FROM intervals
""",
        "snapshot_diff": """
WITH old AS (SELECT * FROM orders WHERE o_orderkey % 11 <> 0),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice
             AND old.o_orderstatus IS NOT DISTINCT FROM new.o_orderstatus
              THEN 'unchanged'
            ELSE 'changed' END AS diff_status
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
""",
        "repeat_buyers_setop": """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
""",
        "dominant_suppliers": """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem GROUP BY 1, 2),
per_part AS (
  SELECT l_partkey, sum(l_quantity) AS part_qty
  FROM lineitem GROUP BY 1)
SELECT s_suppkey, s_name, count(*) AS n_parts_dominated
FROM per_ps
JOIN per_part USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_qty > 0.2 * part_qty
GROUP BY s_suppkey, s_name
""",
        "trailing_range_revenue": """
SELECT day_num, round(cents / 100.0, 6) AS revenue,
       round(sum(cents) OVER w / 100.0, 6) AS trailing7,
       count(*) OVER w AS days_in_frame
FROM (SELECT CAST(epoch_us(date_trunc('day', o_orderdate)) // 86400000000
               AS BIGINT) AS day_num,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1)
WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
        "bigram_lm": f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents WHERE len(list_filter(string_split_regex(lower(text),
    {TEXT.sql_pattern}), x -> x <> '')) >= 1),
t AS (SELECT doc_id, unnest(ws) AS w FROM d),
uni AS (SELECT w, count(*)::BIGINT AS cu FROM t GROUP BY w),
n AS (SELECT sum(cu)::BIGINT AS N FROM uni),
firsts AS (SELECT doc_id, ws[1] AS w FROM d),
bis AS (
  SELECT doc_id,
    unnest(list_transform(range(2, len(ws) + 1), i -> ws[i-1] || ' ' || ws[i]))
      AS pr
  FROM d WHERE len(ws) >= 2),
bsp AS (SELECT doc_id, string_split(pr, ' ')[1] AS v,
               string_split(pr, ' ')[2] AS w FROM bis),
big AS (SELECT v, w, count(*)::BIGINT AS cb FROM bsp GROUP BY v, w),
scored AS (
  SELECT f.doc_id, ln(u.cu::DOUBLE / n.N) AS logp
  FROM firsts f JOIN uni u USING (w) CROSS JOIN n
  UNION ALL
  SELECT b.doc_id,
    CASE WHEN g.cb IS NOT NULL THEN ln(g.cb::DOUBLE / uv.cu)
         ELSE ln(0.4 * uw.cu::DOUBLE / n.N) END
  FROM bsp b
  LEFT JOIN big g ON g.v = b.v AND g.w = b.w
  JOIN uni uv ON uv.w = b.v
  JOIN uni uw ON uw.w = b.w
  CROSS JOIN n)
SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS lm_score
FROM scored GROUP BY doc_id
""",
        "dsir_weights": f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents),
bi AS (
  SELECT doc_id,
    unnest(list_transform(range(2, len(ws) + 1), i -> ws[i-1] || ' ' || ws[i]))
      AS pr
  FROM d WHERE len(ws) >= 2),
f AS (SELECT doc_id, ('0x' || substr(md5(pr), 1, 8))::BIGINT % 1024 AS b FROM bi),
tgt AS (SELECT f.b FROM f JOIN documents USING (doc_id) WHERE lang = 'en'),
cr AS (SELECT b, count(*)::BIGINT AS c_r FROM f GROUP BY b),
ct AS (SELECT b, count(*)::BIGINT AS c_t FROM tgt GROUP BY b),
nr AS (SELECT count(*)::BIGINT AS n_r FROM f),
nt AS (SELECT count(*)::BIGINT AS n_t FROM tgt),
lam AS (
  SELECT coalesce(cr.b, ct.b) AS b,
    ln((coalesce(c_t, 0) + 1)::DOUBLE / (n_t + 1024))
      - ln((coalesce(c_r, 0) + 1)::DOUBLE / (n_r + 1024)) AS llr
  FROM cr FULL OUTER JOIN ct ON cr.b = ct.b CROSS JOIN nr CROSS JOIN nt)
SELECT doc_id, count(*) AS n_feats, round(avg(llr), 6) AS dsir_weight
FROM f JOIN lam USING (b) GROUP BY doc_id
""",
        "bpe_pair_counts": f"""
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '')) AS word
  FROM documents),
wf AS (SELECT word, count(*)::BIGINT AS freq FROM w GROUP BY word),
ch AS (SELECT freq, list_filter(string_split(word, ''), x -> x <> '') AS cs
       FROM wf),
pairs AS (
  SELECT freq,
    unnest(list_transform(range(2, len(cs) + 1), i -> cs[i-1] || ' ' || cs[i]))
      AS pr
  FROM ch WHERE len(cs) >= 2)
SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b,
       sum(freq)::BIGINT AS cnt
FROM pairs GROUP BY a, b
ORDER BY cnt DESC, a, b LIMIT 20
""",
        "shuffle_positions": """
SELECT doc_id,
  row_number() OVER (ORDER BY md5(doc_id::VARCHAR || 'epoch0'), doc_id) AS pos
FROM documents
""",
        "bm25_search": f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), {TEXT.sql_pattern}),
                x -> x <> '') AS ws
  FROM documents),
lens AS (SELECT doc_id, len(ws) AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS N, avg(dl) AS avg_dl FROM lens),
t AS (SELECT doc_id, unnest(ws) AS t FROM d),
tf AS (
  SELECT doc_id, t, count(*)::BIGINT AS tf FROM t
  WHERE t IN ('spark', 'window', 'merge') GROUP BY doc_id, t),
dfreq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
    ln(1.0 + (N - df + 0.5) / (df + 0.5))
      * (tf * 2.2)
      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avg_dl)) AS s
  FROM tf JOIN dfreq USING (t) JOIN lens USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(sum(s), 6) AS bm25 FROM scored GROUP BY doc_id
""",
    }
    # star-contraction clusters run over the minhash pair source (the
    # scale composition), so they get their own pipeline-replay oracle
    oracles["dedup_clusters_star"] = _dedup_clusters_star_oracle_sql()
    oracles["clf_score"] = _clf_score_oracle_sql()
    # prefix filtering is an execution-only optimization: provably the
    # same pairs as the posting-join baseline, so the oracle is shared
    oracles["jaccard_prefix"] = oracles["ngram_jaccard"]
    # round-6 registrations: full CTE replay for the KN LM, invariant
    # oracle for the iterative k-means trainer (see the constants)
    oracles["kneser_ney_lm"] = _KNESER_NEY_ORACLE_SQL["kneser_ney_lm"]
    oracles["kmeans_cells"] = _KMEANS_CELLS_ORACLE_SQL
    # conditionally-available oracles (e.g. environment-dependent replays)
    return {k: v for k, v in oracles.items() if v is not None}

"""The three benchmark workloads, each driven through the engine's public
functions exactly as its command-line entry point composes them.

A workload object has:

- ``register(spark, tracer)``: input registration, part of set-up;
- ``iterate(spark, out_dir, tracer)``: one complete input-to-output run;
  returns what ``checks`` compares against the DuckDB reference;
- ``traced(spark, out_dir, tracer)``: the traced variant, which
  materializes at layer boundaries where the untraced path is fused, and
  also returns the per-layer counts only it can see.

``tracer`` records a span (and sets a Spark job group) around every
public-function call; the untraced path gets one that records nothing.
"""

from __future__ import annotations

import dataclasses
import glob
import os

#: The extraction event config: the reference extraction fixture's
#: mapping of ``subjects`` and ``admit_vitals`` to MEDS events.
EVENT_CONFIG = {
    "subjects": {
        "patient_id_col": "MRN",
        "eye_color": {"code": ["EYE_COLOR", "col(eye_color)"], "time": None},
        "height": {"code": "HEIGHT", "time": None, "numeric_value": "col(height)"},
        "dob": {"code": "DOB", "time": "col(dob)", "time_format": "%m/%d/%Y"},
    },
    "admit_vitals": {
        "admissions": {
            "code": ["ADMISSION", "col(department)"],
            "time": "col(admit_date)",
            "time_format": "%m/%d/%Y, %H:%M:%S",
        },
        "discharge": {
            "code": "DISCHARGE",
            "time": "col(disch_date)",
            "time_format": "%m/%d/%Y, %H:%M:%S",
        },
        "HR": {
            "code": "HR",
            "time": "col(vitals_date)",
            "time_format": "%m/%d/%Y, %H:%M:%S",
            "numeric_value": "col(HR)",
        },
        "temp": {
            "code": "TEMP",
            "time": "col(vitals_date)",
            "time_format": "%m/%d/%Y, %H:%M:%S",
            "numeric_value": "col(temp)",
        },
    },
}

#: extract_cli defaults.
SPLIT_FRACS = {"train": 0.8, "tuning": 0.1, "held_out": 0.1}
SPLIT_SEED = 1
PATIENTS_PER_SHARD = 50_000

#: The reference-shaped preprocessing stage list (PAPER.md §1.3-1.4).
PREPROCESS_STAGES = [
    "filter_patients",
    "aggregate_code_metadata",
    "filter_measurements",
    "occlude_outliers",
    "fit_vocabulary_indices",
    "normalization",
    "tokenization_event_seqs",
    "tensorization",
]
PREPROCESS_CONFIGS = {
    "filter_patients": {"min_measurements_per_patient": 5, "min_events_per_patient": 3},
    "filter_measurements": {"min_patients_per_code": 10},
    "occlude_outliers": {"stddev_cutoff": 3.0},
}
NRT_COLUMNS = ["time_delta_days", "code", "numeric_value"]


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's ``_SUCCESS``/crc files included."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Extract:
    """Raw CSV tables -> MEDS cohort, the ``plans/extract_cli.py`` sequence
    (its ``main`` ends with ``spark.stop()``, so the calls are made here)."""

    name = "extract"

    def __init__(self, input_dir: str, manifest: dict):
        self.input_dir = input_dir
        self.input_rows = sum(manifest["rows"].values())

    def register(self, spark, tracer):
        # reading the CSVs is part of every iteration (read_table infers
        # the schema eagerly), so nothing is registered ahead
        for t in EVENT_CONFIG:
            if not os.path.isdir(os.path.join(self.input_dir, f"{t}.csv")):
                raise FileNotFoundError(f"missing input table {t}")

    def iterate(self, spark, out_dir, tracer, materialize=False):
        from pyspark.sql import functions as F

        from meds_polars_functions_spark.operators.aggregate_code_metadata import (
            aggregate_code_metadata,
        )
        from meds_polars_functions_spark.operators.extract_events import convert_to_events
        from meds_polars_functions_spark.operators.merge_sort import merge_and_sort
        from meds_polars_functions_spark.operators.split_patients import (
            harvest_patient_ids,
            shard_patients,
            splits_to_dataframe,
        )
        from meds_polars_functions_spark.schema import finalize_data
        from meds_polars_functions_spark.sources.readers import read_table
        from meds_polars_functions_spark.sources.writers import write_json, write_parquet

        with tracer.span("sources.readers"):
            tables = {
                t: read_table(spark, os.path.join(self.input_dir, f"{t}.csv"))
                for t in EVENT_CONFIG
            }
        frames = []
        with tracer.span("operators.extract_events"):
            for t, table_cfg in EVENT_CONFIG.items():
                cfg = dict(table_cfg)
                pid_col = cfg.pop("patient_id_col", "patient_id")
                frames.append(convert_to_events(tables[t], cfg, patient_id_col=pid_col))
        with tracer.span("operators.merge_sort"):
            cohort = finalize_data(merge_and_sort(frames)).persist()
            if materialize:
                # the traced run builds the cached cohort here, so the
                # scan/convert/sort work lands in this span instead of in
                # the first consumer's
                rows = cohort.count()
        with tracer.span("operators.split_patients"):
            ids = harvest_patient_ids([cohort])
            shards = shard_patients(
                ids,
                n_patients_per_shard=PATIENTS_PER_SHARD,
                split_fracs_dict=SPLIT_FRACS,
                seed=SPLIT_SEED,
            )
            splits_df = splits_to_dataframe(spark, shards)
        with tracer.span("sources.writers.write_parquet"):
            write_parquet(
                cohort.join(F.broadcast(splits_df), "patient_id"),
                os.path.join(out_dir, "data"),
                partition_by=["split"],
            )
            write_parquet(splits_df, os.path.join(out_dir, "metadata", "patient_splits"))
            write_parquet(
                aggregate_code_metadata(cohort, do_summarize_over_all_codes=True),
                os.path.join(out_dir, "metadata", "codes"),
            )
            write_json(shards, os.path.join(out_dir, "metadata", "splits.json"))
        if not materialize:
            with tracer.span("summary.count"):
                rows = cohort.count()
        cohort.unpersist()
        return {"out_dir": out_dir, "rows": rows, "patients": len(ids)}

    def traced(self, spark, out_dir, tracer):
        result = self.iterate(spark, out_dir, tracer, materialize=True)
        files, size = dir_stats(out_dir)
        counts = {
            "operators.split_patients.driver_rows": result["patients"],
            "sources.writers.files_out": files,
            "sources.writers.mb_out": size / 1e6,
        }
        return result, counts


class Preprocess:
    """MEDS cohort -> tokenized, tensorized NRT files through
    ``plans.pipeline.Pipeline.run`` (lazy, the CLI default)."""

    name = "preprocess"

    def __init__(self, input_dir: str, manifest: dict):
        self.input_dir = input_dir
        self.input_rows = manifest["rows"]["measurements"]

    def register(self, spark, tracer):
        from meds_polars_functions_spark.sources.readers import (
            normalize_time_columns,
            read_table,
        )

        with tracer.span("sources.readers"):
            self.cohort = normalize_time_columns(
                read_table(spark, os.path.join(self.input_dir, "cohort.parquet")), ["time"]
            )

    def _stages(self, nrt_dir):
        from meds_polars_functions_spark.plans.registry import build_stages

        configs = dict(PREPROCESS_CONFIGS)
        configs["tensorization"] = {"nrt_dir": nrt_dir, "list_columns": NRT_COLUMNS}
        return build_stages({"stages": PREPROCESS_STAGES, "stage_configs": configs})

    def iterate(self, spark, out_dir, tracer):
        from meds_polars_functions_spark.plans.pipeline import Pipeline

        nrt_dir = os.path.join(out_dir, "nrt")
        Pipeline(self._stages(nrt_dir)).run(spark, self.cohort)
        return {"nrt_dir": nrt_dir}

    def traced(self, spark, out_dir, tracer):
        """Checkpointed run: every stage materializes to parquet, so each
        stage's span holds its own work (ROADMAP direction 2). A stage's
        span runs from its function's call to the end of its checkpoint
        write; the checkpoint read-back and the runner's own work between
        stages are ``plans.pipeline.overhead_s``."""
        import pyarrow.parquet as pq
        from pyspark.sql.readwriter import DataFrameWriter

        from meds_polars_functions_spark.plans.pipeline import Pipeline
        from meds_polars_functions_spark.sources import writers

        nrt_dir = os.path.join(out_dir, "nrt")
        ckpt_dir = os.path.join(out_dir, "ckpt")
        write_parquet = DataFrameWriter.parquet

        def checkpoint_write(writer, path, *args, **kwargs):
            try:
                return write_parquet(writer, path, *args, **kwargs)
            finally:
                if path.startswith(ckpt_dir):
                    tracer.close_stage()

        # the tensorization stage imports write_nrt when it is built, so the
        # span wrapper goes in first
        write_nrt = writers.write_nrt
        writers.write_nrt = tracer.wrap_call("sources.writers.write_nrt", write_nrt)
        DataFrameWriter.parquet = checkpoint_write
        try:
            stages = [
                dataclasses.replace(st, fn=tracer.wrap_stage(st.name, st.fn))
                for st in self._stages(nrt_dir)
            ]
            with tracer.span("plans.pipeline") as top:
                Pipeline(stages, checkpoint_dir=ckpt_dir).run(spark, self.cohort, resume=False)
        finally:
            writers.write_nrt = write_nrt
            DataFrameWriter.parquet = write_parquet
            tracer.close_stage()
        counts = {}
        for name in PREPROCESS_STAGES:
            parts = glob.glob(os.path.join(ckpt_dir, name, "*.parquet"))
            counts[f"stage.{name}.rows_out"] = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        files, size = dir_stats(nrt_dir)
        counts["sources.writers.files_out"] = files
        counts["sources.writers.mb_out"] = size / 1e6
        stage_s = sum(sp.duration for sp in tracer.spans if sp.name.startswith("stage."))
        counts["plans.pipeline.overhead_s"] = top.duration - stage_s
        return {"nrt_dir": nrt_dir}, counts


class Curation:
    """The registered ``curation_v2`` query over a generated corpus."""

    name = "curation"

    def __init__(self, input_dir: str, manifest: dict):
        self.input_dir = input_dir
        self.input_rows = manifest["rows"]["documents"]

    def register(self, spark, tracer):
        import __spark_entry__ as entry

        self.query = entry.queries()["curation_v2"]

    def iterate(self, spark, out_dir, tracer):
        return {"rows": self.query(spark, self.input_dir).collect()}

    def traced(self, spark, out_dir, tracer):
        """The registered query, unchanged, with its three operators
        swapped in their modules for wrappers that open a span and
        materialize the operator's output there (an eager local checkpoint:
        a sink that keeps the rows, so the next operator reads them instead
        of recomputing them inside its own span)."""
        from pyspark.sql import functions as F

        from meds_polars_functions_spark.operators import dedup, packing, text

        swaps = [(text, "quality_filter"), (dedup, "span_dedup"), (packing, "temperature_mixture")]
        originals = [getattr(module, name) for module, name in swaps]
        seen = {}

        def boundary(span, name, fn):
            def wrapped(df, *args, **kwargs):
                with tracer.span(span):
                    out = fn(df, *args, **kwargs).localCheckpoint(eager=True)
                seen[name] = (df, out)
                return out

            return wrapped

        for (module, name), fn in zip(swaps, originals):
            span = f"operators.{module.__name__.rsplit('.', 1)[1]}.{name}"
            setattr(module, name, boundary(span, name, fn))
        try:
            with tracer.span("curation_v2"):
                rows = self.query(spark, self.input_dir).collect()
        finally:
            for (module, name), fn in zip(swaps, originals):
                setattr(module, name, fn)
        # ratio bases, counted outside the spans
        n_spans = F.sum(F.ceil(F.size(F.split("text", " ")) / 20)).alias("s")
        n_kept = seen["quality_filter"][1].count()
        sd_in, sd_out = seen["span_dedup"]
        spans_in = sd_in.agg(n_spans).first()["s"] or 0
        spans_out = sd_out.agg(n_spans).first()["s"] or 0
        counts = {
            "operators.text.kept_ratio": n_kept / self.input_rows,
            "operators.text.docs_in": self.input_rows,
            "operators.dedup.spans_in": spans_in,
            "operators.dedup.spans_removed_ratio": (spans_in - spans_out) / max(spans_in, 1),
        }
        return {"rows": rows}, counts


WORKLOADS = {w.name: w for w in (Extract, Preprocess, Curation)}

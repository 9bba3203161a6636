"""Pipeline runner: the reference's Hydra dataflow wiring, Spark-first.

Reference: src/MEDS_transforms/utils.py:183-363 (``populate_stage``) — a
static pass over the ordered stage list classifying each stage as data vs
metadata and wiring each stage's input to the previous same-kind stage's
output; plus the map/reduce-over-shards machinery (mapreduce/mapper.py,
mapreduce/utils.py) with file locks and polling barriers.

Spark mapping: stages are ``DataFrame -> DataFrame`` functions (the
compute_fn contract, SURVEY §2.9); the shard iteration, file locks, and
polling barrier dissolve into the job DAG. What we keep:

- the data/metadata dual-track wiring (a metadata stage consumes the
  current data track and replaces the metadata track);
- optional per-stage parquet **checkpoints** — the reference gets
  resume-and-inspect-intermediates for free from its file-per-stage
  model; ``checkpoint_dir`` restores that property (and truncates
  lineage, which matters for long pipelines at scale);
- cache-hit resume: a stage whose checkpoint exists is read, not rerun
  (reference mapreduce/utils.py:173-182 output-exists check).

Without ``checkpoint_dir`` the data track stays lazy, but each metadata
stage's output is materialized once with an eager ``localCheckpoint``,
as the reference writes each metadata table to a file once. Every later
consumer (the metadata broadcasts of data stages, the next metadata
stage) then reads stored rows instead of re-deriving the table from the
cohort. This relies on the metadata-scale contract: a metadata table is
≤ millions of rows, never fact-scale. The stored blocks live as long as
the frames ``run()`` returns (and anything derived from them) are in use.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]
    #: "data" stages transform the measurement table; "metadata" stages
    #: consume the data track and replace the metadata track (the
    #: reference's is_metadata classification, utils.py:141-180). A
    #: metadata output must be metadata-scale (≤ millions of rows): without
    #: a checkpoint_dir it is materialized once in executor storage, which
    #: lives as long as the returned frames.
    kind: str = "data"
    kwargs: dict = field(default_factory=dict)
    #: metadata stages receive the current metadata track too when True.
    wants_metadata: bool = False


@dataclass
class Pipeline:
    stages: list[Stage]
    checkpoint_dir: str | None = None

    def run(
        self,
        spark: SparkSession,
        data: DataFrame,
        metadata: DataFrame | None = None,
        resume: bool = True,
    ) -> tuple[DataFrame, DataFrame | None]:
        for stage in self.stages:
            ckpt = (
                os.path.join(self.checkpoint_dir, stage.name)
                if self.checkpoint_dir
                else None
            )
            if ckpt and resume and os.path.exists(os.path.join(ckpt, "_SUCCESS")):
                out = spark.read.parquet(ckpt)
            else:
                kwargs = dict(stage.kwargs)
                if stage.wants_metadata:
                    kwargs["code_metadata"] = metadata
                out = stage.fn(data, **kwargs)
                if ckpt:
                    out.write.mode("overwrite").parquet(ckpt)
                    out = spark.read.parquet(ckpt)
                elif stage.kind == "metadata":
                    # eager, so the cut is complete whatever reads it first
                    out = out.localCheckpoint()
            if stage.kind == "metadata":
                metadata = out
            else:
                data = out
        return data, metadata


def run_pipeline(
    spark: SparkSession,
    stages: list[Stage],
    data: DataFrame,
    metadata: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    return Pipeline(stages, checkpoint_dir).run(spark, data, metadata)

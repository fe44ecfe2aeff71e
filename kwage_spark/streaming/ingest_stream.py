"""Streaming sketch ingest — the reference's --stream mode (T6,
`maestro_main.cpp:421-434`) on Structured Streaming.

Design: each micro-batch runs the same map-side partial build as batch
ingest and APPENDS partial sketch rows to a state dataset; because every
sketch merge is associative+commutative, state compaction can happen
lazily on read (read_merged_state) with no correctness window. foreachBatch gives exactly-once appends per epoch via the file
committer; resume = just restart the stream with the same checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import SketchConfig
from ..operators.ingest import build_sketches
from ..operators.merge import merge_grouped_states


def stream_ingest(spark: SparkSession, input_path: str, input_schema: str,
                  cfg: SketchConfig, state_dir: str, checkpoint_dir: str,
                  max_files_per_trigger: int = 8):
    """Start a file-source stream that folds arriving files into sketch
    partials. Returns the StreamingQuery (caller stops it)."""
    stream = (spark.readStream
              .schema(input_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        partials = build_sketches(batch_df, cfg)
        (partials.write.mode("append").parquet(state_dir))

    return (stream.writeStream
            .foreachBatch(fold_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_merged_state(spark: SparkSession, state_dir: str,
                      cfg: SketchConfig) -> DataFrame:
    """Merge all appended partials into one row per (group, kind)."""
    partials = spark.read.parquet(state_dir)
    return merge_grouped_states(partials, list(cfg.group_cols))


import os
from contextlib import contextmanager

from btrdb_server_spark.streaming.ingest import IngestPipeline

__all__ = ["IngestPipeline", "bounded_state_partitions"]

_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"


@contextmanager
def bounded_state_partitions(spark, parts: int | None = None):
    """Run a stateful streaming query with a state-partition count sized to
    its STATE, not to the session's core count.

    A stateful operator pins its shuffle-partition count from
    `spark.sql.shuffle.partitions` at first start and every micro-batch then
    pays per-partition fixed costs — a state-store instance (load + delta
    commit + snapshot bookkeeping) and one Python task for the
    applyInPandasWithState function per partition per batch. With the
    session default sized to cores (32 here), an MB-scale micro-batch pays
    32x that machinery for keys that fit in a handful of partitions:
    measured on streaming_attribution at sf0.1, 4 micro-batches took 18.5 s
    at 32 state partitions vs 3.4 s at 4 — the state work itself is
    milliseconds. Partitioning GROUPS are untouched (hash of the group key),
    so emissions are identical; only the physical fan-out changes.

    Production sizing: state partitions should scale with total keyed-state
    size and per-batch row volume (RocksDB instance per partition), e.g.
    state_bytes / ~1 GB, NOT with cluster cores — a 100 TB deployment sets
    SPARK_GRAFT_STREAM_STATE_PARTITIONS (or passes `parts`) once per
    pipeline. Local default 4 keeps micro-batch fixed costs bounded at any
    SPARK_GRAFT_CPUS, so the bench stays comparable across core counts.

    Restores the session conf on exit; the running query keeps the pinned
    count from its checkpoint metadata. Heavy pre-state stages inside these
    pipelines parallelize via explicit repartition (e.g. the LSH signature
    stage), which this conf does not touch.

    Precedence: SPARK_GRAFT_STREAM_STATE_PARTITIONS (the deployment-wide
    production knob) > `parts` (the caller's key-cardinality-tuned default
    for ITS state, e.g. 16 for the ~3k-key stat windows) > 4. `parts` used
    to silently lose to the env default, which pinned every keyed stream at
    4 regardless of the measured per-query optimum (streaming_stat_state:
    6.5 s @4 vs 4.0 s @16 at sf0.1, interleaved best-of-2).
    """
    env = os.environ.get(_PARTITIONS_ENV)
    if env is not None:
        # Set means set: an empty or non-positive value is a deployment
        # mistake, not "unset", so it fails instead of being ignored.
        try:
            parts = int(env)
        except ValueError:
            parts = 0
        if parts < 1:
            raise ValueError(
                f"{_PARTITIONS_ENV} must be a positive integer, got {env!r}"
            )
    elif parts is None:
        parts = 4
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, old)

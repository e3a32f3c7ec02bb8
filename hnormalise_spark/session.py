"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the pipeline's shape: a scan → narrow parse
projection → two filtered writes + one small aggregate. AQE is on so
the counts shuffle coalesces at runtime; Arrow is on for the few
pandas-UDF stages (tokenize / golden JSON encode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "hnormalise-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the same entry points serve tests, bench at two parallelism
    levels, and spark-submit on a real cluster (where ``master`` is
    left to the submitter).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # NOTE: earlier rounds excluded PushDownPredicates entirely to
        # stop predicate pushdown from substituting the parse's
        # stacked-Project shared expression DAG into filter conditions
        # (exponential unfolding; a filter condition reached 110 MB of
        # text). That root cause is now fixed structurally —
        # pipeline._payload_stage makes parse_ok nondeterministic,
        # which blocks pushdown through the parse for EVERY optimizer
        # batch (including "Extract Python UDFs", which ignores
        # excludedRules) — so user-filter pushdown is fully enabled.
        #
        # What stays off are the filter-INFERENCE rules, which
        # manufacture predicates out of column-defining expressions and
        # so duplicate big shared DAGs no matter where the user puts
        # filters: InferFiltersFromGenerate inlined the MinHash
        # signature chain into an isnotnull/size>0 filter under the LSH
        # band explode (a 132 KB condition recomputing the signature
        # ~32x per row — 332 s instead of 36 s at sf0.1), and
        # constraint propagation does the same through
        # InferFiltersFromConstraints. Their upside (skipping
        # null/empty rows early) is nil for this workload.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.sql.constraintPropagation.enabled": "false",
        # AQE: runtime shuffle coalescing + skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # The counts aggregate is tiny; parse stage parallelism comes
        # from input splits, not shuffles.
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            if shuffle_partitions is not None
            else os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        ),
        # Whole-stage codegen loses here: the stacked parse Projects
        # fuse into methods too big for Janino (64 KB) and the JIT (8 KB).
        "spark.sql.codegen.wholeStage": "false",
        # Arrow for the pandas-UDF stages (tokenizer, golden encoder).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Pin the session timezone: deterministic instant<->string
        # rendering and NTZ casts regardless of the host's zone (the
        # envelope keeps the original RFC3339 string, so byte goldens
        # do not depend on this either way).
        "spark.sql.session.timeZone": "UTC",
        # Duplicate keys in a malformed KV body: keep a deterministic
        # winner instead of failing the job (reference behaviour is
        # positional; duplicates are pathological either way).
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # Split parquet files small enough that local[N] saturates all
        # N cores on test/bench-sized inputs. Measured on the 2M-line
        # bench corpus at local[32] (round 5): the 64m default yielded
        # 13 scan splits → 59k lines/s; 8m yields one split per file
        # (128, the row-group ceiling) → 70.4k lines/s, and local[8]
        # improves the same way, lifting single-JVM 8→32 efficiency
        # 0.68 → 0.76. At 100 TB this knob must go UP (8m splits would
        # make ~12M tasks; 128-256m is right once the scan itself
        # supplies thousands of splits) — deployments override it via
        # spark-submit --conf or this env var. The sizing rule, not the
        # number, is the invariant: ≥2-4 scan tasks per core, splits
        # small enough to decompress into executor memory.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PART_BYTES", "8m"
        ),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spread_to_cores(df):
    """Repartition to the session's default parallelism — for inputs
    whose per-row COMPUTE (regex parse, shingle hashing, JSON encode)
    dwarfs their byte size.

    Spark sizes scan partitions from bytes (maxPartitionBytes), which
    is the right heuristic when I/O dominates; a few-MB parquet file is
    one split, so ms-per-row work downstream of it runs on ONE core of
    the session. At 100 TB the scan itself supplies thousands of splits
    and this becomes a no-op-sized shuffle — call it right after the
    scan, BEFORE heavy projections, so only the narrow input columns
    cross the wire and all post-shuffle work runs on every core."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)

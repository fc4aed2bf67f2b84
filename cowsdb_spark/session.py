"""SparkSession factory tuned for the engine.

Local test profile runs on ``local[N]``; the same settings are the
ones that matter on a real cluster (AQE, adaptive skew join,
partition sizing). Reference equivalent: the chdb Session construction
at main.py:140-173 — one embedded engine per process; ours is one
SparkSession per process with per-user namespaces (see engine.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores the engine runs on: ``SPARK_GRAFT_CPUS`` when it is a
    number; unset or ``*`` (the container image default) means every
    core this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "*").strip()
    return len(os.sched_getaffinity(0)) if raw == "*" else int(raw)


def get_spark(app_name: str = "moospark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Settings chosen for 100 TB-readiness, not just local tests:

    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting replaces hand-tuned partition counts at scale.
    - UTC session timezone: ClickHouse DateTime semantics (reference
      advertises fixed "UTC" in the native handshake, main.py:375).
    - Arrow on: any Python-side hop (pandas UDFs for the custom
      operators) is Arrow-batched, never row-at-a-time pickling.
    - ANSI off (Spark default): ClickHouse-style permissive casts.
    """
    cpus = host_cpus()
    sp = shuffle_partitions or cpus
    # Per-process warehouse under /tmp (reference keeps per-credential
    # catalogs under /tmp/cowsdb, main.py:29); keeps the repo clean and
    # session state process-scoped like the reference's.
    warehouse = os.environ.get(
        "MOOSPARK_WAREHOUSE", f"/tmp/moospark-warehouse-{os.getpid()}"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, not "as much as the box has": measured on the 10M-row
        # ClickBench sweep (local[32], JDK17 G1), repeat-run latency of
        # the shuffle-heavy high-cardinality aggs is tight at 12g
        # (cb32 1.38-2.19s over 7 reps) but catastrophically unstable
        # at 32g (2.6-38.2s — the near-empty giant heap defers
        # collection until region scavenges stall the 32 task threads).
        # At cluster scale the analog is right-sizing executor heaps
        # instead of maximizing them.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        # Throughput collector over G1: the analytics hot path churns
        # short-lived UnsafeRow/string garbage across 32 task threads,
        # and G1's mixed-collection pauses land mid-query — measured on
        # the variance-prone 10M subset (7 reps, fresh JVM per
        # config): G1 median-total 6.51s with cb23 swinging
        # 0.42-3.10s vs ParallelGC 4.93s with cb23 at 0.34-0.65s;
        # GC time 4.0s -> 2.4s. ZGC and G1+pause-target landed
        # between. Cluster analog: executor GC choice is a
        # per-deployment JVM flag, same lever.
        # 512m code cache (JDK default 240m): every distinct query
        # JIT-compiles whole-stage-codegen classes, and a long serving
        # session fills the default cache — the JIT then stops
        # compiling and later heavy queries run partly interpreted.
        # Measured (r7, aged-session protocol: 30-query warm pass then
        # cb32 at 100M, fresh JVM per cell, 2 interleaved rounds):
        # base [11.6,12.3,9.5]/[8.7,9.6,8.9] vs 512m
        # [8.8,8.7,9.7]/[7.9,7.4,8.3] — ~10% median win and the 11-12s
        # outliers disappear. Standard recommendation for long-lived
        # Spark SQL drivers.
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32 MB scan splits: a 0.5 GB file fans out to ~16 scan tasks
        # instead of 4 (default 128 MB), keeping all local cores busy;
        # at cluster scale this is still a sane split for 100 TB of
        # parquet (tasks stay seconds-long, row groups ~50 MB).
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.warehouse.dir", warehouse)
        # Spark 4 defaults ANSI on; ClickHouse expression semantics are
        # permissive (float x/0 is not an error), so the engine runs
        # non-ANSI. Set again post-create in case of session reuse.
        .config("spark.sql.ansi.enabled", "false")
        # Parquet files written without the isAdjustedToUTC flag would
        # otherwise read as TIMESTAMP_NTZ in Spark 4; ClickHouse
        # DateTime is a UTC instant, so read them as TimestampType
        # (the session TZ above is pinned UTC, so values are identical).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Route file scans through DataSource v2 and push MIN/MAX/COUNT
        # into the parquet footer (row-group statistics). A stats-only
        # aggregate over 100 TB then reads footers, not data — DuckDB
        # and ClickHouse both answer these from metadata; without this
        # Spark full-scans the column (measured 2.7 s -> 0.57 s for
        # MIN/MAX over a 10M-row column on one local box).
        .config("spark.sql.sources.useV1SourceList", "")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Codegen'd two-level fast hash map in the FINAL aggregate
        # stage too (default is partial-only), with the vectorized
        # row-batch variant: the high-cardinality GROUP BY family is
        # final-agg-bound once the partial pass stops reducing.
        # Measured (heavy-8 ClickBench subset at 10M rows, fresh-JVM
        # interleaved cells, median of 3 rounds): base 6.21 s ->
        # 5.30 s, better in every round; scan-split 16 MB and
        # shuffle-width 64 variants were noise.
        .config("spark.sql.codegen.aggregate.map.twolevel.partialOnly", "false")
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        # Long-lived-session hygiene (r6): shuffle files and broadcast
        # blocks are only reclaimed when the driver GC collects their
        # references (ContextCleaner is weak-ref driven), and the
        # default periodic forced GC is 30min — far past the point
        # where a query-per-second serving session has accumulated
        # gigabytes of dead shuffle data on the tmpfs scratch dir and
        # aged the heap. 45s keeps the cleaner current: measured on
        # the full 43-query ClickBench sweep at 100M rows in ONE warm
        # session (the serving access pattern; min-of-3 per query),
        # total 116.3 s -> 93.8 s with the late-sweep heavy aggs
        # improving most (cb35 14.5->7.1 s, cb30 6.7->3.1, cb14
        # 5.8->2.6) — those are the queries that previously ran on a
        # session aged by 30+ predecessors. Standard practice for
        # long-running Spark services; on a cluster this is the same
        # conf on the driver.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # FAIR job scheduling (r6): the serving path runs one Spark
        # job per concurrent client; FIFO queues client B's sub-second
        # query behind client A's heavy one. FAIR within the default
        # pool round-robins task slots across in-flight jobs —
        # measured with tools/bench_serve.py at 25 concurrent HTTP
        # clients (see BENCH_SERVE.json). Single-job batch workloads
        # are unaffected (one job at a time schedules identically).
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "fairscheduler.xml"),
        )
    )
    # Shuffle/spill scratch on RAM-backed tmpfs when available: local
    # mode writes every exchange to spark.local.dir, and /tmp here is
    # spinning-VM block storage. Interleaved A/B at 10M rows
    # (min-of-3 medians over 3 rounds): heavy agg subset 8.12s
    # (/tmp) -> 7.07s (/dev/shm), uniform across the shuffle-bound
    # queries; compression stays ON (lz4 off was a wash at best, 2x
    # worse tail at worst). Cluster analog: point
    # spark.local.dir at NVMe, which every managed Spark already does.
    shm = "/dev/shm/moospark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        probe = os.path.join(shm, ".probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass  # no tmpfs (or read-only) — Spark's default scratch dir
    # Ad-hoc conf overrides for one-off A/B runs:
    # MOOSPARK_EXTRA_CONF="spark.local.dir=/dev/shm/x;spark.shuffle.compress=false"
    extra = os.environ.get("MOOSPARK_EXTRA_CONF", "")
    for pair in filter(None, extra.split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-aware defaults.

The reference runs single-process, single-threaded
(``storeid_splitter_prompt.md:83``); the whole point of this engine is to
replace that with Spark's distributed execution. The defaults below are the
ones we would ship to a 1000-executor cluster, applied identically in
``local[*]`` test mode:

* AQE on (runtime coalescing of shuffle partitions, skew-join splitting).
* Arrow enabled so the few Pandas-UDF operators transfer columnar batches.
* ``shuffle.partitions`` sized for the local harness; on a real cluster AQE
  coalesces from a deliberately-high initial number.
* The driver JVM's JIT profile follows the session's length
  (:func:`driver_java_options`): a batch run (one pipeline per process,
  the paper's shape) compiles with C1 only; ``get_spark(long_lived=True)``
  keeps full tiered C2 for harnesses that run many queries in one session.

Environment knobs, all read at call time: ``SPARK_GRAFT_CPUS`` (local core
count), ``SPARK_GRAFT_DRIVER_MEM`` (driver heap),
``SPARK_GRAFT_DRIVER_JAVA_OPTS`` (appended last to the driver JVM flags, so
it overrides the defaults) and ``SPARK_GRAFT_SHUFFLE_PARTITIONS``. JVM
flags only act when ``get_spark`` launches the JVM: a call that reuses a
live session keeps that JVM's heap and JIT profile.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _tuned_defaults(shuffle_partitions: int) -> dict[str, str]:
    """The runtime-settable tuned defaults — ONE list, applied both to the
    builder (fresh session) and via conf.set (reused session), so the two
    paths cannot drift apart."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
    }


def _default_driver_mem() -> str:
    """Local-mode driver heap default: 24g, clamped to half of host RAM.

    In local mode this one heap hosts the driver plus every executor
    thread (see the builder comment below); 24g is sized for the 128 GiB
    bench host. On a smaller dev machine an unconditional 24g can fail JVM
    startup or swap (ADVICE r15), so the default clamps to RAM/2 with a
    4g floor; SPARK_GRAFT_DRIVER_MEM always overrides.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    break
            else:
                return "24g"
    except OSError:
        return "24g"
    return f"{max(4, min(24, int(total_gb // 2)))}g"


def driver_java_options(long_lived: bool = False) -> str:
    """The driver JVM's ``spark.driver.extraJavaOptions``, in flag order.

    For a repeated ``-XX`` flag the JVM keeps the last occurrence, so
    ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` comes last and overrides both
    defaults (e.g. ``-XX:TieredStopAtLevel=4`` after the batch profile's
    ``=1`` runs with 4).
    """
    # The periodic cleaner calls System.gc(): on JDK 17's default G1
    # that is a FULL stop-the-world collection — multi-second on a 16g
    # heap full of checkpoint/broadcast blocks, charged to whichever
    # query is in flight (the r15 bench measured isolated-fast queries
    # at +2-8s mid-pass: corpus_budget_head 1.9s isolated vs 10.3s in
    # the warm pass). ExplicitGCInvokesConcurrent turns the explicit
    # call into a concurrent G1 cycle; weak refs (what the
    # ContextCleaner actually needs collected) are still processed at
    # the brief remark pause. Same flag a long-running driver gets in
    # production.
    opts = ["-XX:+ExplicitGCInvokesConcurrent"]
    # JIT profile by session length. A fresh batch run (one pipeline per
    # process, as in perfbench) ends before C2's compilations pay back: on
    # a 4-core host the C1/C2 compiler threads used 55-60 of the 109-115
    # CPU-seconds of a fresh store_pipeline body, and bought no wall time.
    # C1-only compilation (TieredStopAtLevel=1) won all ten alternating
    # pairs per workload: median cpu_s 106.9→58.4 s for that body and
    # 102.1→52.3 s for a cold corpus build, with median set-up time 1-2 s
    # lower. A long session is the other way round: one bench.py run at
    # sf0.1 (161 queries, cold then warm pass) was 53% slower warm with
    # C1 only (211.9→324.7 s). Callers that ran faster under C2 when
    # timed both ways (bench.py, the test suite, and the tools listed in
    # README "Session settings") pass long_lived=True and keep full tiered
    # C2. The flag only acts at JVM launch: a reused session keeps the
    # profile its JVM started with.
    if not long_lived:
        opts.append("-XX:TieredStopAtLevel=1")
    opts.append(os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
    return " ".join(opts).strip()


def get_spark(
    app_name: str = "ting-data-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    long_lived: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``long_lived=True`` keeps the driver JVM's full tiered (C2) JIT, for
    sessions that run many queries; the default is the C1-only batch
    profile (see :func:`driver_java_options`). It only acts when this call
    launches the JVM.

    ``shuffle_partitions`` defaults from ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    read at CALL time (an import-time read frozen into a def-time default
    would ignore a harness setting the env var after import).
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # OPTIMIZATION r15 (guide §5): in local mode this ONE heap hosts
        # the driver AND every executor thread — at local[32] the old 8g
        # default left ~250 MB/task before GC pressure; the r15 bench
        # measured WARM passes slower than cold mid-pass (job_23_2 2.8s
        # cold → 6.0s warm) purely from accumulated session state. 16g
        # fixed the systematic inversion but a 161-query warm pass still
        # showed a 2-3 query drift tail (+2-5s each) from late-session
        # heap pressure; 24g flattens it (A/B: warm 157.2s → 142.0s, worst
        # warm query 8.6s → 4.9s). ~750 MB/task at local[32] in a 128 GiB
        # sandbox; SPARK_GRAFT_DRIVER_MEM still overrides, and a real
        # cluster sizes executors separately from this knob.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # Long-lived sessions (the bench runs 161 queries × 2 passes in
        # one app) accumulate shuffle files, broadcast blocks and RDD
        # metadata that the ContextCleaner only releases after a JVM GC
        # collects their weak refs; the default 30-minute periodic GC
        # means an entire bench pass runs before the first sweep. 5
        # minutes bounds that drift — the standard setting for
        # long-running drivers, not a local-only trick (static conf:
        # must be set before the context starts, so it rides the builder).
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config(
            "spark.driver.extraJavaOptions", driver_java_options(long_lived)
        )
        .config("spark.ui.enabled", "false")
        # keep \r progress bars out of sweep logs (they overwrite PASS
        # lines and make independent auditing of the .txt artifacts hard)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in _tuned_defaults(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently ignores builder configs when a session already
    # exists in the process. JVM-static settings (master, driver.memory,
    # warehouse.dir) genuinely can't change then; everything that IS
    # runtime-settable — per spark.conf.isModifiable, not a name-prefix
    # guess (static spark.sql.* keys like warehouse.dir exist, and
    # modifiable non-sql keys exist) — is re-applied so callers asking for
    # e.g. a specific shuffle_partitions get it on a reused session too.
    runtime = {**_tuned_defaults(shuffle_partitions), **(extra_conf or {})}
    for k, v in runtime.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    return spark

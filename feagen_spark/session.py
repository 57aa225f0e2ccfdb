"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness + 100TB-mindset defaults: AQE on (runtime
coalesce + skew-join split), Arrow on (all Python crossings are
vectorized), UTC session timezone (timestamp determinism vs oracles).
On a real cluster the same settings apply; only master/memory change.
The codegen class cache is sized to the engine's working set, so a JVM
that runs the same plans again (a resume, a refresh, the next batch)
compiles each generated class once. Tungsten pages are the smallest the
driver heap allows, so a task that aggregates or sorts a few rows does
not take a 64 MiB array for them. The broadcast chunk, into which every
stage's task binary and every broadcast is serialized, is at most a
quarter of a G1 region of the driver heap, so a small closure is not a
humongous allocation either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100), sized to the measured working set (Janino compilations read
# from CodegenMetrics): the 50 __spark_entry__ queries at sf0.01 compile
# 1 092 classes in one local[4] JVM; a first perfbench pit_resume_refresh op
# compiles 156 and a first corpus_dedup op 108 (local[2]). At the default an
# op evicts its own classes, so every repeat recompiles them (141 and 75 per
# warm op, 1 298 on a second pass of the queries); at 2048, with ~2x
# headroom over the query suite, a warm op compiles none. A static conf:
# spark-submit must pass it to the session it builds.
CODEGEN_CACHE_ENTRIES = 2048

# Tungsten page (spark.buffer.pageSize). Spark derives it from the execution
# pool: 64 MiB at an 8g local[2] driver, so every hash-aggregate, sort or
# shuffle-sort task takes at least one 64 MiB long[] (a G1 humongous object)
# however few rows it holds. Spark pools freed pages under weak references,
# so whether the next task reuses one or allocates a new one depends on
# whether a concurrent G1 cycle ran in between: on a 4-core VM a perfbench
# corpus_dedup op (local[2]) allocated 1 284-1 534 MB of heap by that race,
# two modes 136 MB (two pages) apart; with 1 MiB pages, seeds 11-18 all gave
# 1 141-1 178 MB. The floor is what one task's page table must span: it holds
# 8192 pages (TaskMemoryManager.PAGE_TABLE_SIZE), so the page is the smallest
# power of two >= 1 MiB with 8192 pages >= the driver heap (1 MiB at 8g).
PAGE_TABLE_SIZE = 8192

# Broadcast chunk (spark.broadcast.blockSize, default 4 MiB). TorrentBroadcast
# serializes every stage's task binary and every broadcast into chunks of this
# size, so even a closure of a few KiB takes a whole first chunk. G1 splits the
# heap into about 2048 regions (4 MiB at an 8g heap, 32 MiB at 48g, as the JVM
# reports G1HeapRegionSize), and an array of half a region or more is a
# humongous object, allocated outside the TLABs into regions of its own: at the
# default a perfbench corpus_dedup op (local[2], 8g) made 47 of them, 188 MB of
# its ~1.16 GB heap allocation. The chunk is the largest power of two
# <= heap / (4 * 2048), at most Spark's 4 MiB: at most a quarter region
# whether the JVM rounds the region size up or down, so with its 16-byte array
# header it stays below the humongous threshold. 1 MiB at 8g, 512 KiB at 4g,
# 4 MiB (Spark's own) from 32g. Over alternating perfbench pairs on a 4-core
# VM, 1 MiB cut the median heap allocation per op from 1 146 to 808 MB on
# corpus_dedup (11 pairs) and from 2 574 to 2 263 MB on pit_resume_refresh
# (8 pairs); op times stayed inside the parent's spread.
G1_TARGET_REGIONS = 2048
BROADCAST_BLOCK_MAX = 4 << 20
_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _heap_bytes(driver_memory: str) -> int:
    """Bytes of a Spark memory string (``"8g"``; a bare number is MiB, as
    for ``spark.driver.memory``)."""
    s = driver_memory.strip().lower().removesuffix("b")
    return int(s[:-1]) * _MEM_UNITS[s[-1]] if s[-1] in _MEM_UNITS else int(s) << 20


def page_bytes(driver_memory: str) -> int:
    """Tungsten page size for a driver heap given as a Spark memory string."""
    heap = _heap_bytes(driver_memory)
    page = 1 << 20
    while page * PAGE_TABLE_SIZE < heap:
        page *= 2
    return page


def broadcast_block_bytes(driver_memory: str) -> int:
    """Broadcast chunk size for a driver heap given as a Spark memory
    string: the largest power of two <= heap / (4 * G1_TARGET_REGIONS),
    at most BROADCAST_BLOCK_MAX."""
    heap = _heap_bytes(driver_memory)
    block = BROADCAST_BLOCK_MAX
    while block * 4 * G1_TARGET_REGIONS > heap:
        block //= 2
    return block


def get_spark(
    app_name: str = "feagen_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[master.find("[") + 1 : -1] if "[" in master else "32"
    try:
        n_cores = int(cores.replace("*", "32"))
    except ValueError:
        n_cores = 32
    if shuffle_partitions is None:
        # local mode: ~2x cores keeps all threads busy without tiny tasks
        shuffle_partitions = max(8, 2 * n_cores)
    driver_memory = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.buffer.pageSize", str(page_bytes(driver_memory)))
        # a bare number here is KiB, not bytes
        .config("spark.broadcast.blockSize", f"{broadcast_block_bytes(driver_memory) >> 10}k")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

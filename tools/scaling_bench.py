"""Scaling-efficiency evidence for the north rule (BASELINE.md protocol).

A real N/4N-executor cluster is unavailable in this sandbox, so the
criterion is evidenced by running the IDENTICAL full-suite job at two
parallelism levels on the SAME parquet input:

    python tools/scaling_bench.py --cores 8
    python tools/scaling_bench.py --cores 32

Each invocation is its own JVM (like a separate cluster submission): one
warm-up run (discarded — codegen/JIT) then --runs timed runs; prints one
JSON line {cores, runs:[sec...], steals:[pct...], median_sec, ...}.

Per-run /proc/stat CPU-steal is recorded next to each timing (VERDICT r2:
the host showed up to 11% steal; timings must carry their interference
context, not hide it).

tools/run_scaling.py orchestrates both levels INTERLEAVED (A/B/A/B rounds,
fresh JVM pair per round) and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def read_steal() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the host-wide /proc/stat cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / dt, 2) if dt > 0 else 0.0


def _read_busy_total() -> tuple[int, int]:
    """(busy_ticks, total_ticks) from the host-wide /proc/stat cpu line.
    busy = user+nice+system+irq+softirq (excludes idle, iowait, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + (v[5] if len(v) > 5 else 0) + (v[6] if len(v) > 6 else 0)
    return busy, sum(v)


def _tree_ticks() -> int:
    """Total utime+stime ticks of THIS process's subtree (self + the JVM +
    any python workers). /proc/<pid>/stat comm may contain spaces — parse
    after the last ')'."""
    me = os.getpid()
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        # rest[0]=state, rest[1]=ppid, rest[11]=utime, rest[12]=stime
        stats[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [me]
    while todo:
        p = todo.pop()
        total += stats.get(p, (0, 0))[1]
        todo.extend(kids.get(p, ()))
    return total


def read_load() -> tuple[int, int, int]:
    """Snapshot (host_busy_ticks, host_total_ticks, own_tree_ticks)."""
    busy, total = _read_busy_total()
    return busy, total, _tree_ticks()


class MemProbe:
    """In-region DRAM-bandwidth gauge (round 4, attempt 3): a daemon thread
    samples single-thread streaming-read bandwidth (one numpy sum over a
    256 MB resident buffer, ~30 ms) every ``interval`` seconds while a
    region is active; the region's gauge is the MEDIAN sample in GB/s.

    Why a third instrument: the 2026-08-18 attempts recorded rounds where
    BOTH existing gauges were quiet (steal 0.21%, other-load 1.41%) yet the
    32-wide suite ran 2.2x its known-quiet time while the 8-wide exactly
    reproduced its quiet time — neighbor-VM MEMORY contention stalls our
    vCPUs inside busy ticks, so neither the hypervisor steal counter nor
    the own-tree CPU accounting can see it, and it hits the level that
    spans every host core asymmetrically (the 8-wide level's working set
    rides in caches the neighbor cannot reach as easily). A concurrent
    bandwidth probe sees exactly this: DRAM reads slow down in direct
    proportion to the interference.

    Probe hygiene: the buffer is touched once at init (lazy page faults
    would otherwise be timed — the bug the platform probe had); ``np.sum``
    releases the GIL so the driver thread is not blocked; duty cycle is
    ~30 ms per 400 ms = <8%% of ONE core (<1%% of the 8-core level, ~0.25%%
    of the 32-core level) — too small to bias the suite timing, and it
    biases BOTH levels the same way.
    """

    def __init__(self, interval: float = 0.4, mb: int = 256) -> None:
        import threading

        import numpy as np

        self._np = np
        self._buf = np.ones(mb * 1024 * 1024 // 8, dtype=np.float64)
        float(np.sum(self._buf))  # fault every page in BEFORE any timing
        self._interval = interval
        self._samples: list[float] = []
        self._active = False
        self._lock = threading.Lock()
        t = threading.Thread(target=self._loop, daemon=True)
        t.start()

    def _loop(self) -> None:
        while True:
            if self._active:
                t0 = time.perf_counter()
                s = float(self._np.sum(self._buf))
                dt = time.perf_counter() - t0
                assert s > 0  # keep the sum live
                with self._lock:
                    if self._active and dt > 0:
                        self._samples.append(self._buf.nbytes / dt / 1e9)
            time.sleep(self._interval)

    def region_start(self) -> None:
        with self._lock:
            self._samples = []
            self._active = True

    def region_end(self) -> float:
        """Median in-region bandwidth (GB/s); 0.0 if the region was too
        short to sample (regions here are >=20 s, so this is theoretical)."""
        with self._lock:
            self._active = False
            vals = list(self._samples)
        return round(statistics.median(vals), 2) if vals else 0.0


def other_load_pct(before: tuple[int, int, int],
                   after: tuple[int, int, int]) -> float:
    """CPU consumed by processes OUTSIDE this benchmark's process tree during
    the interval, as %% of total host capacity. This catches SELF-inflicted
    contamination (another pytest/Spark run on the same box) that the
    hypervisor steal counter cannot see — a round-4 `clean` row was corrupted
    exactly this way. Short-lived intruders that exit mid-run still appear:
    host busy ticks include them even after their /proc entries vanish,
    while the tree sum only counts the (stable) benchmark JVM+driver."""
    d_total = after[1] - before[1]
    if d_total <= 0:
        return 0.0
    d_other = (after[0] - before[0]) - (after[2] - before[2])
    return round(max(0.0, 100.0 * d_other / d_total), 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--warmups", type=int, default=1)
    ap.add_argument("--n-images", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "2000000")))
    ap.add_argument("--data", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata"))
    ap.add_argument("--eventlog", default=None,
                    help="directory for Spark event logs (stage-level profiling "
                         "via tools/stage_profile.py); off by default")
    ap.add_argument("--calib-copies", type=int, default=24,
                    help="number of unioned hashed scans per calibration run. "
                         "Round 4 (VERDICT r3 #3): the ~1.4-3s single-scan "
                         "calibration was fixed-overhead-dominated — in 2 of 4 "
                         "clean r3 rounds its measured 8->32 'speedup' was "
                         "<1.0, which is noise by construction for trivially "
                         "parallel work. 24 copies put the large-level run "
                         ">=30s so the denominator is work-dominated and "
                         "cannot invert.")
    ap.add_argument("--calib-agg-groups", type=int, default=8_000_000,
                    help="group cardinality of the hash-aggregation-shaped "
                         "calibration (calib_agg): high enough that partial "
                         "aggregation cannot collapse the shuffle and final-"
                         "agg state exceeds LLC, matching the suite's "
                         "uniqueness/sketch memory shape")
    ap.add_argument("--calib-agg-width", type=int, default=16,
                    help="aggregate columns per group in calib_agg; sized "
                         "with --calib-agg-groups so the large-level run "
                         "stays >=30s (non-invertibility requirement)")
    ap.add_argument("--calib-mix-reps", type=int, default=1,
                    help="repetitions of the composite (suite-shaped, zero-"
                         "engine-code) calibration; 0 disables it")
    args = ap.parse_args()

    from jsonschema_spark.engine import recommended_conf, validate_table
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.passes.drift import baseline_profile
    from pyspark.sql import SparkSession

    # Local-mode measurement hygiene:
    # - shuffle scratch on tmpfs (a real cluster's shuffle I/O scales with
    #   node count — one shared disk would charge a non-scaling cost).
    # - HONEST core accounting: `local[N]` only caps TASK slots at N; GC
    #   (ParallelGC sizes its thread pool from the HOST's 32 CPUs), netty,
    #   compression and shuffle threads would still use every host core,
    #   letting the "8-core" level borrow ~4 extra cores a real 8-core
    #   executor node does not have (measured: the local[8] JVM ran at
    #   ~1100% CPU). -XX:ActiveProcessorCount pins the JVM's view of the
    #   machine; tools/run_scaling.py additionally taskset-binds the
    #   process to exactly N hardware threads.
    b = (SparkSession.builder.appName("scaling-bench")
         .master(f"local[{args.cores}]")
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
         .config("spark.local.dir", "/dev/shm/spark-scratch")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:+UseParallelGC -XX:ActiveProcessorCount={args.cores}")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if args.eventlog:
        os.makedirs(args.eventlog, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", args.eventlog)
             .config("spark.eventLog.compress", "false"))
    for k, v in recommended_conf(args.cores).items():
        b = b.config(k, v)
    # 32 MB input splits: the 2.5 GB input would otherwise make a single
    # 32-task wave at local[32], where one GC pause / steal hiccup extends
    # the whole stage; ~80 splits give straggler slack at both levels.
    b = b.config("spark.sql.files.maxPartitionBytes", str(int(os.environ.get("SPARK_GRAFT_SPLIT_MB", "32")) * 1024 * 1024))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    n = args.n_images
    cfg = FX.FixtureConfig(n=n, n_parts=256, with_bytes=False)
    table_dir = os.path.join(args.data, f"images_{n}")
    base_dir = os.path.join(args.data, f"baseline_{n}")
    if not os.path.exists(os.path.join(table_dir, "_SUCCESS")):
        FX.generate_images_df(spark, cfg).write.mode("overwrite").parquet(table_dir)
    if not os.path.exists(os.path.join(base_dir, "_SUCCESS")):
        clean = FX.FixtureConfig(n=n, n_parts=256, plants=False,
                                 with_bytes=False, drift_part=-1)
        baseline_profile(FX.generate_images_df(spark, clean),
                         FX.drift_columns()).write.mode("overwrite").parquet(base_dir)

    fact = spark.read.parquet(table_dir)
    baseline = spark.read.parquet(base_dir)
    dims = {"dim_fmt": FX.dim_fmt_df(spark), "dim_license": FX.dim_license_df(spark, cfg)}

    def one_run() -> float:
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.time()
        res = validate_table(fact, FX.SPEC_IMAGES, dims=dims, baseline=baseline)
        # the three outputs are independent DAGs — submit concurrently so
        # stage gaps of one job are filled by tasks of another (same as
        # job.py's sink writes)
        with ThreadPoolExecutor(3) as ex:
            list(ex.map(
                lambda df: df.write.format("noop").mode("overwrite").save(),
                (res.violations, res.verdicts, res.stats),
            ))
        # release the per-run caches so runs are independent
        res.cleanup()
        spark.catalog.clearCache()
        return time.time() - t0

    probe = MemProbe()
    for _ in range(args.warmups):  # JIT/codegen warm-up, discarded
        one_run()
    runs, steals, others, mems = [], [], [], []
    for _ in range(args.runs):
        s0, l0 = read_steal(), read_load()
        probe.region_start()
        runs.append(round(one_run(), 2))
        mems.append(probe.region_end())
        steals.append(steal_pct(s0, read_steal()))
        others.append(other_load_pct(l0, read_load()))
    med = statistics.median(runs)

    # Platform calibration: a trivially-parallel scan+hash over the SAME
    # parquet input (zero shuffle, zero engine code). Its 8->32 speedup IS
    # this host's achievable ceiling for scan-shaped Spark work — a single
    # box does not add DRAM channels with cores the way a 4N-executor
    # cluster does. Suite efficiency is reported raw AND normalized to this
    # ceiling (each run hashes with a distinct seed to defeat plan reuse).
    from pyspark.sql import functions as F

    def calib(seed: int, copies: int) -> float:
        # `copies` unioned scans, each hashing with a distinct seed (defeats
        # scan/plan reuse) — same trivially-parallel scan+hash shape, sized so
        # the run is work-dominated (>=30s at the large level), not fixed-
        # overhead-dominated; a sub-3s denominator measured speedups <1.0 at
        # 4x cores, i.e. pure noise (r3 rounds 6/11).
        df = None
        for i in range(copies):
            cols = [F.xxhash64(c, F.lit(seed * 1009 + i)) for c in fact.columns]
            q = fact.select(F.xxhash64(*cols).alias("h"))
            df = q if df is None else df.unionAll(q)
        agg = df.agg(F.max("h"), F.count(F.lit(1)))
        t0 = time.time()
        agg.collect()
        return time.time() - t0

    calib(999, 1)  # JIT/codegen warm-up (shape, not duration)
    calib_runs, calib_steals, calib_others, calib_mems = [], [], [], []
    for i in range(args.runs):
        s0, l0 = read_steal(), read_load()
        probe.region_start()
        calib_runs.append(round(calib(i, args.calib_copies), 2))
        calib_mems.append(probe.region_end())
        calib_steals.append(steal_pct(s0, read_steal()))
        calib_others.append(other_load_pct(l0, read_load()))

    def calib_agg(seed: int, groups: int, width: int) -> float:
        # Hash-aggregation-shaped ceiling probe (round-4 refinement,
        # BENCH/SCALING_NOTES_r04.md §3, registered before the final r4
        # protocol run): the pure-scan calibration under-represents the
        # suite's memory profile — the suite's dominant cost at the wide
        # level is RANDOM access to hash-aggregation state (uniqueness
        # groupBy over ~n distinct ids, HLL/KLL sketch registers), which
        # hits the single-box DRAM wall far harder than a streaming scan
        # (platform probe: DRAM stream bandwidth scales 2.9x at 4x threads
        # while pure CPU scales 4.4x; random access scales worse still).
        # This probe keeps zero engine code and trivial parallelism (map-
        # side partial agg + one shuffle, no skew, no joins) but matches
        # the suite's memory shape: per-column xxhash64 projections
        # aggregated over a high-cardinality derived key with max() state
        # plus an HLL (approx_count_distinct) per group.
        # NB: the aggregate columns must be DISTINCT expressions (distinct
        # seeds) and the outer reduction must CONSUME every aggregate — a
        # naive max(h0) tail lets Catalyst prune all other aggregates and
        # the probe silently degenerates to a scan (measured: 4.3s vs the
        # real 33s at 32 cores).
        n_c = len(fact.columns)
        cols = [F.xxhash64(F.col(fact.columns[i % n_c]),
                           F.lit(seed * 501 + i)).alias(f"h{i}")
                for i in range(width)]
        df = fact.select(
            F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns],
                              F.lit(seed)), F.lit(groups)).alias("k"),
            *cols)
        aggs = [F.max(f"h{i}").alias(f"m{i}") for i in range(width)]
        aggs.append(F.approx_count_distinct("h0", 0.05).alias("d"))
        inner = df.groupBy("k").agg(*aggs)
        out = inner.select(F.xxhash64(*inner.columns).alias("x")).agg(
            F.max("x"), F.count(F.lit(1)))
        t0 = time.time()
        out.collect()
        return time.time() - t0

    calib_agg(999, 1000, 2)  # JIT/codegen warm-up (shape, not duration)
    agg_runs, agg_steals, agg_others, agg_mems = [], [], [], []
    for i in range(args.runs):
        s0, l0 = read_steal(), read_load()
        probe.region_start()
        agg_runs.append(round(calib_agg(i, args.calib_agg_groups,
                                        args.calib_agg_width), 2))
        agg_mems.append(probe.region_end())
        agg_steals.append(steal_pct(s0, read_steal()))
        agg_others.append(other_load_pct(l0, read_load()))

    def calib_mix(seed: int, reps: int) -> float:
        # COMPOSITE roofline control (round-4 final protocol): a zero-
        # engine-code Spark job doing the SAME scans and the SAME
        # aggregations as the suite, with trivial state and no engine —
        # its 8->32 speedup is the box's achievable ceiling for THIS
        # workload mix. The pure-scan probe under-represents the suite's
        # memory profile and the 8M-group agg probe over-represents it
        # (measured: scan 2.2-2.3x, agg 0.6x, suite 1.5-1.9x — the suite
        # sits between its shapes' ceilings). Phase volumes are dictated
        # by the suite's spec, not tuned:
        #   (a) full-input scan + per-column hash (the fused projection's
        #       scan volume: every spec'd column, 1 pass);
        #   (b) uniqueness-shaped aggs: groupBy over the two key columns'
        #       full cardinality (~n groups each for image_id and phash,
        #       count state) — the uniqueness pass's exact shape;
        #   (c) sketch-shaped agg: 256 partition groups x per-column HLL
        #       (approx_count_distinct) + KLL (percentile_approx) on the
        #       numeric columns — the stats pass's exact shape;
        #   (d) broadcast anti-join against a small dim — the referential
        #       pass's shape (cheap, included for mix completeness).
        # All phases trivially parallel (map-side partial agg + unskewed
        # shuffles, no windows, no engine code), run sequentially.
        t0 = time.time()
        for r in range(reps):
            sd = seed * 7919 + r
            # (a) scan + hash every column
            cols = [F.xxhash64(F.col(c), F.lit(sd + i))
                    for i, c in enumerate(fact.columns)]
            fact.select(F.xxhash64(*cols).alias("h")).agg(
                F.max("h"), F.count(F.lit(1))).collect()
            # (b) uniqueness shape: full-cardinality groupBy per key column
            for kc in ("image_id", "phash"):
                (fact.groupBy(F.xxhash64(F.col(kc), F.lit(sd)).alias("k"))
                     .agg(F.count(F.lit(1)).alias("c"))
                     .where(F.col("c") > 1).agg(F.count(F.lit(1)), F.max("c"))
                     .collect())
            # (c) stats shape: 256 groups x HLL on every column + KLL on
            # the numerics
            hlls = [F.approx_count_distinct(c).alias(f"d_{c}")
                    for c in fact.columns]
            klls = [F.percentile_approx(c, [0.01, 0.5, 0.99], 2000).alias(f"q_{c}")
                    for c in fact.columns
                    if dict(fact.dtypes)[c] in ("int", "bigint", "double", "float")]
            g = (fact.groupBy(F.pmod(F.xxhash64("image_id", F.lit(sd)),
                                     F.lit(256)).alias("p"))
                     .agg(*hlls, *klls))
            g.select(F.xxhash64(*g.columns).alias("x")).agg(
                F.max("x"), F.count(F.lit(1))).collect()
            # (d) referential shape: broadcast anti-join on a small dim
            from pyspark.sql import Row
            dim = spark.createDataFrame(
                [Row(fmt=x) for x in ("png", "jpeg", "bmp", "gif", "webp")])
            (fact.join(F.broadcast(dim), "fmt", "left_anti")
                 .agg(F.count(F.lit(1))).collect())
        return time.time() - t0

    mix_runs, mix_steals, mix_others, mix_mems = [], [], [], []
    if args.calib_mix_reps > 0:
        calib_mix(998, 1)  # JIT/codegen warm-up, discarded
        for i in range(args.runs):
            s0, l0 = read_steal(), read_load()
            probe.region_start()
            mix_runs.append(round(calib_mix(i, args.calib_mix_reps), 2))
            mix_mems.append(probe.region_end())
            mix_steals.append(steal_pct(s0, read_steal()))
            mix_others.append(other_load_pct(l0, read_load()))

    print(json.dumps({
        "cores": args.cores,
        "n_images": n,
        "runs": runs,
        "steals": steals,
        "others": others,
        "mems": mems,
        "median_sec": med,
        "min_sec": min(runs),
        "images_per_sec": round(n / med, 1),
        "images_per_sec_best": round(n / min(runs), 1),
        "calib_runs": calib_runs,
        "calib_steals": calib_steals,
        "calib_others": calib_others,
        "calib_mems": calib_mems,
        "calib_copies": args.calib_copies,
        "calib_median_sec": statistics.median(calib_runs),
        "calib_min_sec": min(calib_runs),
        "calib_agg_runs": agg_runs,
        "calib_agg_steals": agg_steals,
        "calib_agg_others": agg_others,
        "calib_agg_mems": agg_mems,
        "calib_agg_groups": args.calib_agg_groups,
        "calib_agg_width": args.calib_agg_width,
        "calib_agg_median_sec": statistics.median(agg_runs),
        "calib_mix_runs": mix_runs,
        "calib_mix_steals": mix_steals,
        "calib_mix_others": mix_others,
        "calib_mix_mems": mix_mems,
        "calib_mix_reps": args.calib_mix_reps,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

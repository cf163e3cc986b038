"""One benchmark run in one fresh Spark process.

``run.py`` starts this file as a child process, in its own process
group, with the run's private artifact, Spark-local, warehouse and temp
dirs in its environment. It sets up the engine, runs the workload as a
closed loop (one client, one op in flight), checks every op's output and
writes one JSON result file. Nothing inside ``tile_etl_spark`` is
changed or wrapped: spans time the benchmark's own calls into the
package's public functions.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import time

ROOT = os.environ["PERFBENCH_ROOT"]
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from stats import (  # noqa: E402
    Ledger, Tracer, descendants, median, min_samples, percentile, proc_table,
)

MIX = (
    "q_scan_pushdown q_filter_range q_join_inner q_join_broadcast "
    "q_join_asof q_agg_group q_agg_rollup q_win_rank q_window_tumbling "
    "q_pivot q_tpch_q9 q_tpch_q18"
).split()
MIX_TABLES = ("lineitem", "orders", "customer", "nation", "part", "supplier", "events")

# Untimed whole cycles between the cold cycle and the timed window. Op
# walls fall for tens of seconds as the JIT and codegen warm up: after
# the cold cycle, the median op of a cycle fell from 0.79 to 0.51-0.59 s
# (tile_upload, then 6 shards of 100 tiles) and from 0.35 to 0.25-0.27 s
# (analytics_sf1), and the fall ended after the fourth cycle on both
# (4-vCPU VM, 3 Spark slots).
# Waiting that long would make a run too long for the benchmark's time
# budget, so the timed window starts on the tail of that fall. The
# schedule is counted in ops, not seconds, so every run times the same
# stretch of the curve. analytics_sf1 checks each qid against its DuckDB
# twin in its warm-up cycle.
WARMUP_CYCLES = 1
P_HI = 0.75


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Proc:
    """CPU, GC and memory readings of the engine's processes."""

    def __init__(self, spark, exclude: set[int]) -> None:
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.exclude = exclude
        self._tck = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """CPU seconds of this process and every process below it: the
        JVM, the Python worker daemon and its workers. The object store's
        process is left out."""
        table = proc_table()
        return sum(
            table[pid][2] for pid in descendants(os.getpid(), table, self.exclude)
        ) / self._tck

    def gc_s(self) -> float:
        return sum(
            b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()
        ) / 1000.0

    def heap_live_mb(self) -> float:
        """Heap in use after a full GC (called once, after the timed ops).

        Python's cycle collector runs first, so the JVM objects that
        dead Python handles pin are let go. Then the full GC repeats
        every half second until three readings agree within 0.5 MB (at
        most 10 s): Spark's ContextCleaner frees the broadcasts and
        shuffles a GC found unreachable only after that GC, and the heap
        read 108, 107, then 84 MB on three GCs half a second apart.
        """
        gc.collect()
        mem = self._mf.getMemoryMXBean()
        mb: list[float] = []
        while len(mb) < 20 and (len(mb) < 3 or max(mb[-3:]) - min(mb[-3:]) > 0.5):
            if mb:
                time.sleep(0.5)
            mem.gc()
            mb.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        return mb[-1]

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return float("nan")


class Store:
    """Client of store_server.py, the object store's own process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "store_server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        self.endpoint = json.loads(self.proc.stdout.readline())["endpoint"]

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def arm(self, manifest: list[dict] | None) -> None:
        faults = {m["key"]: [m["fault"]] for m in manifest or () if m["fault"]}
        self.call(op="reset", faults=faults)

    def close(self) -> None:
        try:
            self.proc.stdin.write(json.dumps({"op": "quit"}) + "\n")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# ------------------------------------------------------------- tile_upload


def tile_frame(spark, shard_dir: str):
    """binaryFile scan of one shard through the engine's path codecs:
    (object_key, content)."""
    from pyspark.sql import functions as F

    from tile_etl_spark.tiles.grid import object_key_col, parse_src_path

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .option("recursiveFileLookup", "true")
        .load(shard_dir)
    )
    src = F.regexp_extract("path", r"(L\d{2}/R[0-9a-f]{8}/C[0-9a-f]{8}\.jpg)$", 1)
    level, row, col = parse_src_path(src)
    return files.select(
        level.alias("level"), row.alias("row"), col.alias("col"), "content"
    ).select(object_key_col().alias("object_key"), "content")


def tile_audit(statuses):
    """Per-level audit of the sink's status rows, dead-letter keys included."""
    from pyspark.sql import functions as F

    err = F.col("status") == "err"
    return statuses.groupBy(
        F.split("object_key", "/")[1].cast("int").alias("level")
    ).agg(
        F.sum((~err).cast("long")).alias("n_ok"),
        F.sum(err.cast("long")).alias("n_err"),
        F.sum("attempts").alias("attempts"),
        F.sort_array(F.collect_list(F.when(err, F.col("object_key")))).alias("dead"),
    )


def tile_expected(manifest: list[dict]) -> tuple[dict, dict, dict]:
    """(audit by level, stored key -> md5, PUT requests by key) that the
    seeded fault schedule predicts."""
    audit, stored, attempts = {}, {}, {}
    for m in manifest:
        a = audit.setdefault(m["level"], [0, 0, 0, []])
        if m["fault"] == 403:
            a[1] += 1
            a[2] += 1
            a[3].append(m["key"])
            attempts[m["key"]] = 1
        else:
            a[0] += 1
            n = 2 if m["fault"] else 1
            a[2] += n
            attempts[m["key"]] = n
            stored[m["key"]] = m["md5"]
    for a in audit.values():
        a[3].sort()
    return audit, stored, attempts


class TileUpload:
    name = "tile_upload"

    def __init__(self, spark, inputs, tracer: Tracer, ledger: Ledger, store: Store) -> None:
        self.spark, self.tracer, self.store = spark, tracer, store
        self.shards = gen.tile_shards(inputs["tiles"])
        self.cycle = len(self.shards)
        self.expected = [tile_expected(m) for _d, m in self.shards]

    def cls(self, k: int) -> str:
        return f"shard{k % self.cycle}"

    def before(self, k: int) -> None:
        self.store.arm(self.shards[k % self.cycle][1])

    def op(self, k: int) -> tuple[int, object]:
        from tile_etl_spark.tiles.http_store import objectstore_sink_http

        shard_dir, manifest = self.shards[k % self.cycle]
        with self.tracer.span("tiles.build"):
            audit = tile_audit(
                objectstore_sink_http(tile_frame(self.spark, shard_dir), self.store.endpoint)
            )
        with self.tracer.span("tiles.exec"):
            rows = audit.collect()
        return len(manifest), rows

    def verify(self, k: int, rows) -> str | None:
        audit, stored, attempts = self.expected[k % self.cycle]
        got = {r["level"]: [r["n_ok"], r["n_err"], r["attempts"], list(r["dead"])] for r in rows}
        if got != audit:
            return f"audit {got} != {audit}"
        st = self.store.call(op="stats")
        if st["objects"] != stored:
            return f"stored objects differ ({len(st['objects'])} vs {len(stored)})"
        if st["attempts"] != attempts:
            return "PUT requests per key differ from the fault schedule"
        return None

    def close(self) -> None:
        pass


# ----------------------------------------------------------- analytics_sf1


class Analytics:
    name = "analytics_sf1"
    cycle = len(MIX)

    def __init__(self, spark, inputs, tracer: Tracer, ledger: Ledger, store) -> None:
        import duckdb

        from check import duck_views
        from tile_etl_spark import registry

        self.spark, self.tracer, self.ledger = spark, tracer, ledger
        self.dir = inputs["tables"]
        self.q = registry.QUERIES
        self.con = duckdb.connect()
        duck_views(self.con, self.dir, MIX_TABLES)

    def cls(self, k: int) -> str:
        return MIX[k % self.cycle]

    def before(self, k: int) -> None:
        pass

    def checks(self, k: int) -> bool:
        """Whether op ``k`` is in the check cycle: the first warm-up
        cycle, untimed."""
        return self.cycle <= k < 2 * self.cycle

    def op(self, k: int) -> tuple[int, object]:
        qid = MIX[k % self.cycle]
        with self.tracer.span(f"operators.{qid}.build"):
            df = self.q[qid](self.spark, self.dir)
        if self.checks(k):
            from check import compare
            from tile_etl_spark import registry

            try:
                return 1, compare(df, self.con, registry.ORACLES[qid])
            except Exception as ex:  # a crash is a failed check
                return 1, f"{type(ex).__name__}: {ex}"
        with self.tracer.span(f"operators.{qid}.exec"):
            _noop(df)
        return 1, None

    def verify(self, k: int, why) -> str | None:
        """The check cycle's parity result. A mismatch fails every op of
        that qid, before and after it."""
        if why:
            self.ledger.fail_class(self.cls(k), why)
        return why

    def close(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (TileUpload, Analytics)}


# ------------------------------------------------------------------ probes


def probe_io(spark, tables: str, tracer: Tracer) -> dict:
    """io.load plus a noop scan of each mix table: first on the empty
    artifact dir (re-layout included), then again."""
    from tile_etl_spark.io import load

    out = {}
    for rnd in ("first", "repeat"):
        t = time.perf_counter()
        for name in MIX_TABLES:
            with tracer.span(f"io.{rnd}.{name}"):
                _noop(load(spark, tables, name))
        out[rnd] = time.perf_counter() - t
    return {
        "io.relayout_s": out["first"] - out["repeat"],
        "io.scan_s": out["repeat"],
    }


def probe_tiles(spark, tiles: str, tracer: Tracer, store: Store) -> dict:
    """Shard 0 through each tile layer on its own."""
    from pyspark.sql import functions as F

    from tile_etl_spark.tiles.http_store import (
        HttpPutClient, ObjectStoreError, objectstore_sink_http,
    )

    shard_dir, manifest = gen.tile_shards(tiles)[0]
    bodies = [(m["key"], _read(os.path.join(shard_dir, m["path"]))) for m in manifest]
    out = {}
    client = HttpPutClient(store.endpoint)
    try:
        store.arm(None)
        t = time.perf_counter()
        with tracer.span("store.put_cap"):
            for key, body in bodies:
                client.put(key, body)
        out["store.put_cap_per_s"] = len(bodies) / (time.perf_counter() - t)
        store.arm(manifest)
        t = time.perf_counter()
        with tracer.span("tiles.put"):
            for key, body in bodies:
                try:
                    client.put(key, body)
                except ObjectStoreError:
                    pass  # a permanent fault: the sink dead-letters it
        out["tiles.put_s"] = time.perf_counter() - t
    finally:
        client.close()

    t = time.perf_counter()
    with tracer.span("tiles.scan"):
        _noop(tile_frame(spark, shard_dir))
    out["tiles.scan_s"] = time.perf_counter() - t

    rows = tile_frame(spark, shard_dir).persist()
    rows.count()
    store.arm(manifest)
    cpu0 = store.call(op="stats")["cpu_s"]
    t = time.perf_counter()
    with tracer.span("tiles.sink"):
        res = objectstore_sink_http(rows, store.endpoint).agg(
            F.sum((F.col("status") == "err").cast("long")).alias("dead")
        ).collect()[0]
    out["tiles.sink_s"] = time.perf_counter() - t
    st = store.call(op="stats")
    rows.unpersist()
    requests = sum(st["attempts"].values())
    out.update({
        "store.cpu_s": st["cpu_s"] - cpu0,
        "tiles.put_requests": requests,
        "tiles.retries": requests - len(st["attempts"]),
        "tiles.dead_letters": int(res["dead"]),
    })
    return out


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def probe_operators(spark, tables: str, tracer: Tracer) -> None:
    """One pass over the mix, after ``probe_io`` re-laid the tables out.
    The JIT is still cold for these plans, so the figures read higher
    than the warm ones of an analytics_sf1 traced run."""
    from tile_etl_spark import registry

    for qid in MIX:
        with tracer.span(f"operators.{qid}.build"):
            df = registry.QUERIES[qid](spark, tables)
        with tracer.span(f"operators.{qid}.exec"):
            _noop(df)


def probe_llm(spark, tables: str, tracer: Tracer, ledger: Ledger) -> dict:
    """The curation funnel's layers over the corpus, then the whole
    funnel, checked against its DuckDB twin."""
    import duckdb
    from pyspark.sql import functions as F

    from check import compare_rows, duck_views
    from tile_etl_spark import cache, registry
    from tile_etl_spark.io import load
    from tile_etl_spark.llm.curation import connected_components
    from tile_etl_spark.llm.dedup import ngram_jaccard_pairs

    out = {}
    cache.scope("perfbench.llm")
    t = time.perf_counter()
    with tracer.span("llm.ngram_pairs"):
        pairs = ngram_jaccard_pairs(load(spark, tables, "documents")).persist()
        pairs.count()
    out["llm.ngram_pairs_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("llm.components"):
        _noop(connected_components(
            pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        ))
    out["llm.components_s"] = time.perf_counter() - t
    pairs.unpersist()

    t = time.perf_counter()
    with tracer.span("llm.curation_build"):
        df = registry.QUERIES["q_curation_e2e"](spark, tables)
    out["llm.curation_build_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("llm.curation_exec"):
        got = df.toPandas()
    out["llm.curation_exec_s"] = time.perf_counter() - t
    con = duckdb.connect()
    try:
        duck_views(con, tables, ("documents",))
        why = compare_rows(got, con.execute(registry.ORACLES["q_curation_e2e"]).df())
    finally:
        con.close()
    ledger.record("q_curation_e2e", why is None, why or "")
    return out


# -------------------------------------------------------------------- main


def op_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def main() -> None:
    args = json.loads(sys.argv[1])
    traced = bool(args["trace"])
    tracer = Tracer(traced)
    ledger = Ledger()
    inputs = args["inputs"]
    per_layer: dict[str, float] = {}

    with tracer.span("registry.load_all"):
        from tile_etl_spark import registry

        registry.load_all()
    with tracer.span("session.get_spark"):
        from tile_etl_spark.session import get_spark

        spark = get_spark(app_name="perfbench", cpus=args["slots"])
    with tracer.span("session.first_job"):
        spark.range(1).count()
    setup_s = time.time() - args["t_spawn"]
    sc = spark.sparkContext
    phases = {"setup": setup_s}  # seconds since spawn at each phase's end

    def phase(name: str) -> None:
        phases[name] = time.time() - args["t_spawn"]

    store = Store() if "tiles" in inputs else None
    try:
        proc = Proc(spark, {store.proc.pid} if store else set())
        if traced:
            per_layer.update(probe_io(spark, inputs["tables"], tracer))
        wl = WORKLOADS[args["workload"]](spark, inputs, tracer, ledger, store)
        timed: list[tuple[int, bool, float]] = []  # (op, traced, wall)
        counts: list[tuple[int, int, int]] = []
        persisted: list[int] = []
        cpu: list[float] = []
        items = 0

        def run(k: int, trace_op: bool) -> tuple[float, int]:
            wl.before(k)
            tracer.enabled = trace_op
            tracer.op = k
            if trace_op:
                sc.setJobGroup(f"op{k}", f"perfbench op {k}")
                c0 = proc.cpu_s()
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    n, rows = wl.op(k)
                wall = time.perf_counter() - t
                why = wl.verify(k, rows)
            except Exception as ex:  # a failed op is counted, not fatal
                wall, n, why = time.perf_counter() - t, 0, f"{type(ex).__name__}: {ex}"
            tracer.enabled = traced
            if trace_op:
                cpu.append(proc.cpu_s() - c0)
                counts.append(op_counts(sc, f"op{k}"))
                # JavaSparkContext.getPersistentRDDs: no Python twin
                persisted.append(len(sc._jsc.getPersistentRDDs()))
                sc.setLocalProperty("spark.jobGroup.id", None)
            ledger.record(wl.cls(k), why is None, why or "")
            return wall, n

        # the cold cycle: every shard or qid once in the fresh JVM, on
        # the empty artifact dir
        cold = [run(k, False)[0] for k in range(wl.cycle)]
        cold_op_s = sum(cold) / wl.cycle
        phase("cold")
        k = wl.cycle
        while k < (1 + WARMUP_CYCLES) * wl.cycle:
            run(k, False)
            k += 1
        phase("warmup")
        gc0 = proc.gc_s()
        t0 = time.perf_counter()
        # whole cycles for at least --seconds: at least 24 ops (6
        # beyond p75) in an untraced run; a traced and an untraced cycle
        # in a traced run, whose end-to-end numbers are not used
        need = 2 * wl.cycle if traced else min_samples(P_HI)
        cycle_no = 0
        while (
            k % wl.cycle
            or len(timed) < need
            or time.perf_counter() - t0 < args["seconds"]
        ):
            trace_cycle = traced and cycle_no % 2 == 0
            wall, n = run(k, trace_cycle)
            timed.append((k, trace_cycle, wall))
            items += n
            k += 1
            if k % wl.cycle == 0:
                cycle_no += 1
        gc_timed = proc.gc_s() - gc0
        phase("timed")
        heap_live_mb = proc.heap_live_mb()
        phase("heap")
        tracer.enabled = traced
        tracer.op = None
        wl.close()

        if traced:
            per_layer.update(
                probe_tiles(spark, inputs["tiles"], tracer, store)
            )
            if wl.name != "analytics_sf1":
                probe_operators(spark, inputs["tables"], tracer)
            per_layer.update(probe_llm(spark, inputs["tables"], tracer, ledger))
            phase("probes")
    finally:
        if store:
            store.close()

    op_walls = [w for _k, _t, w in timed]
    result = {
        "workload": wl.name,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "errors": ledger.errors[:20],
        "n_timed": len(op_walls),
        "phases": phases,
        "cold_ops": [(wl.cls(k), w) for k, w in enumerate(cold)],
        "timed_ops": [(wl.cls(k), w) for k, _t, w in timed],
        "end_to_end": {
            "setup_s": setup_s,
            "cold_op_s": cold_op_s,
            "op_p50_s": median(op_walls),
            "op_p75_s": percentile(op_walls, P_HI),
            "items_per_s": items / sum(op_walls),
            "heap_live_mb": heap_live_mb,
            "fail_share": ledger.fail_share,
        },
    }
    if traced:
        traced_walls = [w for _k, t, w in timed if t]
        plain_walls = [w for _k, t, w in timed if not t]
        last = counts[-wl.cycle:]
        for name in ("registry.load_all", "session.get_spark", "session.first_job"):
            per_layer[f"{name}_s"] = tracer.durations(name)[0]
        for qid in MIX:
            for part in ("build", "exec"):
                per_layer[f"operators.{qid}.{part}_s"] = median(
                    tracer.durations(f"operators.{qid}.{part}")
                )
        per_layer.update({
            "spark.jobs_per_op": sum(c[0] for c in last) / len(last),
            "spark.stages_per_op": sum(c[1] for c in last) / len(last),
            "spark.tasks_per_op": sum(c[2] for c in last) / len(last),
            "cache.persisted_rdds": max(persisted),
            "proc.cpu_s": median(cpu),
            "proc.gc_s": gc_timed / len(op_walls),
            "proc.peak_rss_mb": proc.peak_rss_mb(),
            "trace.overhead": median(traced_walls) / median(plain_walls),
        })
        result["per_layer"] = per_layer
        with open(args["trace_out"], "w") as f:
            json.dump({"spans": tracer.dump(), "per_layer": per_layer}, f)
    with open(args["result"], "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_gold --seed 1 --seconds 10 --trace 0

One client in a closed loop on ``local[nproc]``: each operation starts
when the previous one has finished. A run sets up a session, generates
its inputs, runs one untimed pass that checks every output, one untimed
warm-up pass, then timed passes (suite session caches emptied before
each) until ``--seconds`` have passed. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones read from Spark's
status store. Exit status 1 means a correctness check failed; 2 means
the run could not be made at all.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = len(os.sched_getaffinity(0))
# Below the 15 GiB of the reference host, with room for Python workers.
DRIVER_MEM = "2g"
MAX_RUN_S = 150.0  # no new pass starts after this; a run must end within 180 s
# Untimed passes between the correctness pass and the timed ones: the
# first pass after the correctness pass still runs 30-45% slower than
# later ones while the JIT compiles.
WARM_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "ok_frac": "ratio",
    "write_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.resolves": "count",
    "suite.build_s": "s",
    "suite.build_jobs": "count",
    "suite.build_share": "ratio",
    "cache.builds": "count",
    "cache.entries": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "ratio",
    "spark.one_task_stages": "count",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "udf.python_run_s": "s",
    "udf.python_start_s": "s",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
    "plans.save_s": "s",
    "plans.refresh_s": "s",
    "plans.files_written": "count",
    "plans.bytes_written": "B",
    "plans.files_per_partition": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: Path) -> dict[str, str]:
    """Pin what the session factory reads from the environment. The
    working directory is the run's scratch directory, not the repo root,
    so Python workers find the package only through PYTHONPATH."""
    env = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    }
    # The whole driver heap is committed and touched at JVM start, inside
    # set-up. Left to grow, the heap takes fresh pages mid-pass, and on a
    # VM whose freed memory goes back to the host each first touch costs
    # a host page fault (a fresh GiB: 1.3 s, a reused one: 0.3-0.5 s).
    # Over five seed pairs of etl_gold this cut wall_s from 6.96-7.73 s
    # to 6.55-6.85 s, with set-up unchanged.
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell'
    )
    os.environ.update(env)
    return env


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants (the
    driver JVM and its Python workers), sampled every 50 ms."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def _rss(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop_event.wait(0.05)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak / 2**20


def dir_usage(path: Path) -> tuple[int, int, int]:
    """(bytes of all files, parquet data files, partition directories)."""
    total = files = 0
    parts = set()
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            if n.endswith(".parquet"):
                files += 1
                parts.add(dirpath)
    return total, files, len(parts)


class Runner:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
        self.tracer = None

    # --- session -------------------------------------------------------

    def start_session(self) -> dict:
        from seng550_a3_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.spark.range(1 << 16).selectExpr("id % 97 AS k").groupBy("k").count().collect()
        t2 = time.perf_counter()
        return {"setup_s": process_age(), "start_s": t1 - t0, "warm_s": t2 - t1}

    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM (and with it every
        Python worker) to exit."""
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # --- inputs --------------------------------------------------------

    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import checks
        import datagen
        import workloads
        from seng550_a3_etl_spark import suite

        t0 = time.perf_counter()
        data_dir = self.work / "data"
        datagen.write_tables(datagen.base_tables(), data_dir)
        paths = workloads.batch_paths(self.work)
        self.user_bytes = 0
        names: list[str] = []
        if self.args.workload == "etl_gold":
            base = pa.Table.from_pandas(
                checks.base_facts(suite.ORACLES[workloads.GOLD_QUERY], str(data_dir)),
                preserve_index=False,
            )
            names = sorted({n for n in base.column("n_name").to_pylist() if n})
            batches = datagen.refresh_batches(base, self.args.seed, workloads.N_BATCHES)
            Path(paths[0]).parent.mkdir(parents=True)
            for b, p in zip(batches, paths):
                pq.write_table(b, p)
            self.user_bytes = base.nbytes + sum(b.nbytes for b in batches)
        self.ctx = workloads.Ctx(self.spark, str(data_dir), str(self.work / "gold" / "facts"), paths)
        self.ops = workloads.make_ops(self.args.workload, self.args.seed, names)
        self.datagen_s = time.perf_counter() - t0

    # --- passes --------------------------------------------------------

    def find_caches(self) -> None:
        import importlib
        import pkgutil

        from metrics import discover_caches
        from seng550_a3_etl_spark import catalog, suite

        mods = [
            importlib.import_module(f"{suite.__name__}.{m.name}")
            for m in pkgutil.iter_modules(suite.__path__)
        ]
        self.suite_caches = discover_caches(mods)
        self.catalog_caches = discover_caches([catalog])

    def run_pass(self, pass_no: int, check: bool) -> dict:
        from metrics import new_keys
        from workloads import pass_order

        spark, sc = self.spark, self.spark.sparkContext
        for c in (*self.suite_caches.values(), *self.catalog_caches.values()):
            c.clear()
        spark.catalog.clearCache()
        records = []
        gold = Path(self.ctx.gold_path)
        for i, op in enumerate(pass_order(self.ops, self.args.seed, pass_no)):
            rec = {"name": op.name, "kind": op.kind, "error": None, "bytes": 0,
                   "files": 0, "partitions": 0}
            before_s = {n: set(c) for n, c in self.suite_caches.items()}
            before_c = {n: set(c) for n, c in self.catalog_caches.items()}
            group = f"{self.run_id}/p{pass_no}/{i}"
            marks = [time.perf_counter()]
            try:
                sc.setJobGroup(f"{group}/build", op.name)
                df = op.build(self.ctx)
                marks.append(time.perf_counter())
                sc.setJobGroup(f"{group}/plan", op.name)
                df._jdf.queryExecution().executedPlan()
                marks.append(time.perf_counter())
                sc.setJobGroup(f"{group}/exec", op.name)
                (op.verify if check else op.run)(self.ctx, df)
                marks.append(time.perf_counter())
            except Exception as e:  # one failed operation must not end the run
                rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
                log(f"pass {pass_no} {op.name} failed: {rec['error']}")
                if not check:
                    traceback.print_exc(file=sys.stderr)
            sc.setJobGroup(f"{self.run_id}/idle", "idle")
            while len(marks) < 4:
                marks.append(marks[-1])
            rec["build_s"], rec["plan_s"], rec["exec_s"] = (
                marks[1] - marks[0], marks[2] - marks[1], marks[3] - marks[2]
            )
            rec["wall_s"] = marks[3] - marks[0]
            rec["marks"] = marks
            rec["cache_builds"] = new_keys(before_s, self.suite_caches)
            rec["catalog_resolves"] = new_keys(before_c, self.catalog_caches)
            if op.kind in ("save", "refresh") and rec["error"] is None:
                # A refresh rewrites the table twice: staging, then final.
                written = [gold] if op.kind == "save" else [
                    gold, gold.with_name(gold.name + "__staging")]
                for d in written:
                    b, f, p = dir_usage(d)
                    rec["bytes"] += b
                    rec["files"] += f
                    rec["partitions"] += p
            rec["group"] = group
            records.append(rec)
        entries = sum(len(c) for c in self.suite_caches.values())
        return {"ops": records, "cache_entries": entries,
                "wall_s": sum(r["wall_s"] for r in records)}

    def trace_pass(self, pass_no: int, result: dict, first_execution: int) -> None:
        t = self.tracer
        recs = result["ops"]
        start, end = recs[0]["marks"][0], recs[-1]["marks"][3]
        pass_span = t.add("pass", f"pass {pass_no}", None, t.epoch(start), t.epoch(end))
        groups = {}
        for r in recs:
            m = r["marks"]
            op_span = t.add("operation", r["name"], pass_span, t.epoch(m[0]), t.epoch(m[3]))
            for k, step in enumerate(("build", "plan", "exec")):
                groups[f"{r['group']}/{step}"] = t.add(
                    step, f"{r['name']}:{step}", op_span, t.epoch(m[k]), t.epoch(m[k + 1]),
                    pass_no=pass_no,
                )
        t.harvest(self.spark, groups, first_execution)

    # --- whole run -----------------------------------------------------

    def execute(self) -> dict:
        import workloads
        from checks import check_gold
        from seng550_a3_etl_spark import suite

        load_start = load1()
        session = self.start_session()
        log(f"setup {session['setup_s']:.2f}s (get_spark {session['start_s']:.2f}s, "
            f"warm-up {session['warm_s']:.2f}s)")
        self.make_inputs()
        self.find_caches()
        gold_ops = {o.name for o in self.ops if o.kind in ("save", "refresh")}

        def gold_ok(stage: str) -> bool:
            if not gold_ops:
                return True
            try:
                check_gold(suite.ORACLES[workloads.GOLD_QUERY], self.ctx.data_dir,
                           self.ctx.gold_path, self.ctx.batch_paths)
                return True
            except Exception as e:
                log(f"gold check after {stage} failed: {type(e).__name__}: {e}")
                return False

        t0 = time.perf_counter()
        checked = self.run_pass(0, check=True)
        failed = {r["name"] for r in checked["ops"] if r["error"]}
        if not gold_ok("correctness pass"):
            failed |= gold_ops
        check_s = time.perf_counter() - t0
        log(f"correctness pass {check_s:.1f}s, failing: {sorted(failed) or 'none'}")
        t0 = time.perf_counter()
        for k in range(WARM_PASSES):
            self.run_pass(f"w{k + 1}", check=False)
        warm_s = time.perf_counter() - t0
        log(f"{WARM_PASSES} warm-up pass(es) {warm_s:.1f}s")

        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.run_id)
        passes, peaks, harvest_s = [], [], 0.0
        timed_s = 0.0
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        while not passes or (
            timed_s < self.args.seconds and time.perf_counter() - _T0 < MAX_RUN_S
        ):
            first_execution = sql_store.executionsCount() if self.tracer else 0
            # Memory is a per-layer figure: untraced runs do not sample it.
            sampler = RssSampler(jvm_pid) if self.tracer else None
            if sampler:
                sampler.start()
            t = time.perf_counter()
            result = self.run_pass(len(passes) + 1, check=False)
            timed_s += time.perf_counter() - t
            if sampler:
                peaks.append(sampler.stop())
            passes.append(result)
            if self.tracer:
                h = time.perf_counter()
                self.trace_pass(len(passes), result, first_execution)
                harvest_s += time.perf_counter() - h
        if not gold_ok("timed passes"):
            failed |= gold_ops
        return {
            "session": session, "passes": passes, "peaks": peaks, "failed": failed,
            "check_s": check_s, "warm_s": warm_s, "timed_s": timed_s, "harvest_s": harvest_s,
            "datagen_s": self.datagen_s, "load1_start": load_start, "load1_end": load1(),
        }


def end_to_end(run: dict, user_bytes: int) -> tuple[dict, dict]:
    from statistics import median

    from metrics import tail, write_amp

    ops = [r for p in run["passes"] for r in p["ops"]]
    walls = [r["wall_s"] for r in ops if not r["error"]] or [0.0]
    failed = sum(1 for r in ops if r["error"] or r["name"] in run["failed"])
    tail_v, tail_pct, tail_n = tail(walls)
    bytes_written = sum(r["bytes"] for r in ops)
    values = {
        "setup_s": run["session"]["setup_s"],
        "wall_s": median(p["wall_s"] for p in run["passes"]),
        "query_p50_s": median(walls),
        "query_tail_s": tail_v,
        "ok_frac": (len(ops) - failed) / len(ops),
        "write_amp": write_amp(bytes_written, user_bytes * len(run["passes"])),
    }
    extra = {"query_tail_pct": tail_pct, "query_tail_n": tail_n,
             "attempted": len(ops), "failed": failed}
    return values, extra


def per_layer(run: dict, tracer) -> tuple[dict, dict]:
    from statistics import median

    from metrics import core_util

    n = len(run["passes"])
    ops = [r for p in run["passes"] for r in p["ops"]]
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    steps = [s for s in spans if s["kind"] in ("build", "plan", "exec")]
    stages = [s for s in spans if s["kind"] == "stage"]

    def step_of(span):
        while span["kind"] not in ("build", "plan", "exec"):
            span = by_id[span["parent"]]
        return span["kind"]

    def stage_sum(field, step=None):
        return sum(s[field] for s in stages if step is None or step_of(s) == step)

    build = sum(r["build_s"] for r in ops)
    plan = sum(r["plan_s"] for r in ops)
    exec_ = sum(r["exec_s"] for r in ops)
    n_stages = len(stages)
    tasks = stage_sum("tasks")
    files = sum(r["files"] for r in ops)
    partitions = sum(r["partitions"] for r in ops)
    values = {
        "session.start_s": run["session"]["start_s"],
        "session.warm_s": run["session"]["warm_s"],
        "session.peak_rss_mb": median(run["peaks"]),
        "catalog.resolves": sum(r["catalog_resolves"] for r in ops) / n,
        "suite.build_s": build / n,
        "suite.build_jobs": sum(
            1 for s in spans if s["kind"] == "job" and by_id[s["parent"]]["kind"] == "build"
        ) / n,
        "suite.build_share": build / (build + plan + exec_),
        "cache.builds": sum(r["cache_builds"] for r in ops) / n,
        "cache.entries": sum(p["cache_entries"] for p in run["passes"]) / n,
        "spark.plan_s": plan / n,
        "spark.exec_s": exec_ / n,
        "spark.jobs": sum(1 for s in spans if s["kind"] == "job") / n,
        "spark.stages": n_stages / n,
        "spark.tasks": tasks / n,
        "spark.tasks_per_stage": tasks / n_stages if n_stages else 0.0,
        "spark.one_task_stages": sum(1 for s in stages if s["tasks"] == 1) / n,
        "spark.executor_run_s": stage_sum("executor_run_ms") / 1000 / n,
        "spark.core_util": core_util(stage_sum("executor_run_ms", "exec") / 1000, exec_, CORES),
        "spark.input_bytes": stage_sum("input_bytes") / n,
        "spark.shuffle_read_bytes": stage_sum("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes": stage_sum("shuffle_write_bytes") / n,
        "spark.spill_bytes": stage_sum("spill_bytes") / n,
        "spark.gc_s": stage_sum("gc_ms") / 1000 / n,
        "udf.python_run_s": sum(s.get("python_run_s", 0.0) for s in steps) / n,
        "udf.python_start_s": sum(s.get("python_start_s", 0.0) for s in steps) / n,
        "udf.bytes_to_python": sum(s.get("bytes_to_python", 0.0) for s in steps) / n,
        "udf.bytes_from_python": sum(s.get("bytes_from_python", 0.0) for s in steps) / n,
        "plans.save_s": sum(r["exec_s"] for r in ops if r["kind"] == "save") / n,
        "plans.refresh_s": sum(r["exec_s"] for r in ops if r["kind"] == "refresh") / n,
        "plans.files_written": files / n,
        "plans.bytes_written": sum(r["bytes"] for r in ops) / n,
        "plans.files_per_partition": files / partitions if partitions else 0.0,
    }
    extra = {"self_time_s": {k: v / n for k, v in tracer.self_times().items()},
             "harvest_s": run["harvest_s"]}
    return values, extra


def parse_args(argv=None):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--detail", type=Path, help="also write the full run record here")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "seng550_a3_etl_spark" / "__init__.py").is_file():
        log(f"no seng550_a3_etl_spark package under {ROOT}; run from a checkout")
        return 2
    detail_path = args.detail.resolve() if args.detail else None
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    env = pin_env(work)
    sys.path.insert(0, str(ROOT))
    os.chdir(work)
    runner = Runner(args, work)
    try:
        run = runner.execute()
        values, e2e_extra = end_to_end(run, runner.user_bytes)
        layer, layer_extra = per_layer(run, runner.tracer) if runner.tracer else ({}, {})
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 2
    finally:
        if hasattr(runner, "spark"):
            runner.stop_session()
        os.chdir(ROOT)
        if runner.tracer:
            traces = ROOT / ".perfbench_work" / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{runner.run_id}.json").write_text(json.dumps(runner.tracer.spans))
        shutil.rmtree(work, ignore_errors=True)
    log(f"load1 {run['load1_start']:.2f} -> {run['load1_end']:.2f}; "
        f"{len(run['passes'])} timed pass(es) in {run['timed_s']:.1f}s; "
        f"query_tail_s is p{e2e_extra['query_tail_pct']:.0f} of "
        f"{e2e_extra['query_tail_n']} samples")
    shown = layer if args.trace else values
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": e2e_extra["failed"] == 0,
        "attempted": e2e_extra["attempted"],
        "failed": e2e_extra["failed"],
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }
    if detail_path:
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": CORES, "env": env,
            "load1_start": run["load1_start"], "load1_end": run["load1_end"],
            "datagen_s": run["datagen_s"], "check_s": run["check_s"],
            "warm_s": run["warm_s"],
            "timed_s": run["timed_s"], "failing_ops": sorted(run["failed"]),
            "end_to_end": values, "end_to_end_extra": e2e_extra,
            "per_layer": layer, "per_layer_extra": layer_extra,
            "ops": [
                {k: r[k] for k in ("name", "kind", "build_s", "plan_s", "exec_s", "error")}
                for p in run["passes"] for r in p["ops"]
            ],
        }
        detail_path.parent.mkdir(parents=True, exist_ok=True)
        detail_path.write_text(json.dumps(detail, indent=1))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

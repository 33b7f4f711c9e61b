"""End-to-end benchmark of the economics ETL, its API and its query catalog.

Run from the repo root, one workload per process:

    python3 e2ebench/run.py --workload etl --seed 1 --seconds 3 --trace 0

Each workload runs in a fresh process:

- ``etl``: raw sources from the seed -> one DAG1 pass
  (``EconomicsETL.run`` -> ``validate_outputs`` -> ``publish``) -> the
  published tables registered behind ``DataServer`` -> a closed-loop
  client process POSTing ``/get_data``.
- ``catalog``: TPC-H-ish tables from the seed -> blocks of a fixed mix of
  query-catalog entries (``mix.py``), each built then collected.

Both report the same end-to-end metrics, each read in the workload's own
unit of work (README.md).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. The line before it is the run's record (stamps, warm-up,
errors).
"""

from __future__ import annotations

import argparse
import contextlib
import http.client
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import mix  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

PACKAGE = "state_economics_end_to_end_data_pipeline_spark"

WORKLOADS = ("etl", "catalog")
CONNECTIONS = 2
# passes over the request mix before the timed phase; the server's
# latency is still falling after them (README.md, warm-up findings)
WARMUP_SWEEPS = 2
MIN_REPLIES = 66  # two sweeps, so the 75th percentile has at least 10 replies beyond it
INPUT_REPEATS = 3
REGISTER_REPEATS = 3
MIN_TIMED_BLOCKS = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def git_commit(root: Path) -> str:
    """HEAD of the git repo rooted at root; not of a repo around it."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=root, capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "unknown (no git)"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != root:
        return "unknown (not a git checkout)"
    return lines[1]


def http_get(host: str, port: int, path: str) -> dict:
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return {"status": resp.status, **json.loads(resp.read())}
    finally:
        conn.close()


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def tree_bytes(root: Path) -> tuple[int, int]:
    """Parquet files under root and their total size."""
    files = list(root.rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


class Run:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.tracer = None
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.record: dict = {}
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def spark_conf(self) -> dict[str, str]:
        w = self.work
        conf = {
            "spark.local.dir": str(w / "spark-local"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            (w / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (w / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    # ---------------- set-up ----------------

    def start_session(self) -> float:
        from state_economics_end_to_end_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(app_name=f"e2ebench-{self.args.workload}", extra_conf=self.spark_conf())
        spark_s = time.perf_counter() - t0
        if self.tracer:
            from spans import wrap_program

            self.tracer.sc = self.spark.sparkContext
            wrap_program(self.tracer)
        return spark_s

    def make_inputs(self, make) -> tuple[float, object, Path]:
        """Run ``make(dir, seed)`` INPUT_REPEATS times: the median time,
        and the first copy's result and directory. Every copy must hold
        the same bytes."""
        gen_s, copies = [], []
        for i in range(INPUT_REPEATS):
            d = self.work / f"inputs{i}"
            t0 = time.perf_counter()
            made = make(d, self.args.seed)
            gen_s.append(time.perf_counter() - t0)
            files = {p.relative_to(d): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}
            copies.append((made, files))
        if any(files != copies[0][1] for _, files in copies):
            self.errors.append("the same seed gave different input bytes")
        self.input_bytes = sum(len(b) for b in copies[0][1].values())
        return statistics.median(gen_s), copies[0][0], self.work / "inputs0"

    # ---------------- etl ----------------

    def dag1_pass(self, paths: dict, published: Path) -> float | None:
        from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import EconomicsETL

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span("pass"):
                etl = EconomicsETL(spark=self.spark, **paths)
                tables = etl.run(validate=False)
                etl.validate_outputs(tables)
                etl.publish(tables, str(published))
        except Exception as e:  # noqa: BLE001 - the gate raising is a failed pass
            self.failed += 1
            self.errors.append(f"DAG1 pass failed: {type(e).__name__}: {e}")
            return None
        return time.perf_counter() - t0

    def check_published(self, published: Path) -> dict:
        from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import (
            FOREIGN_KEYS,
            PRIMARY_KEYS,
        )

        tables = checks.read_published(published)
        self.errors += checks.check_published(tables, checks.EXPECTED_ROWS, PRIMARY_KEYS, FOREIGN_KEYS)
        return tables

    def register(self, published: Path, names: list[str]):
        from state_economics_end_to_end_data_pipeline_spark.serving import DataService

        reg_s = []
        for _ in range(REGISTER_REPEATS):
            service = DataService(self.spark)
            t0 = time.perf_counter()
            for name in names:
                service.register_parquet(name, str(published / name))
            reg_s.append(time.perf_counter() - t0)
        return service, statistics.median(reg_s)

    def serve(self, service, tables: dict) -> dict:
        from state_economics_end_to_end_data_pipeline_spark.serving import DataServer

        expected_columns = {n: t.schema.names for n, t in tables.items()}
        with DataServer(service) as server:
            host, port = server.address
            listed = http_get(host, port, "/tables")
            columns = {n: http_get(host, port, f"/columns/{n}") for n in tables}
            self.attempted += 1 + len(columns)
            catalog_errors = checks.check_catalog(listed, columns, expected_columns)
            self.failed += len(catalog_errors)
            self.errors += catalog_errors
            if catalog_errors:
                return {}
            spec = {
                "host": host,
                "port": port,
                "mix": inputs.request_mix(sorted(tables), self.args.seed),
                "rows": {n: t.num_rows for n, t in tables.items()},
                "columns": {n: columns[n]["columns"] for n in tables},
                "connections": CONNECTIONS,
                "warmup_sweeps": WARMUP_SWEEPS,
                "seconds": self.args.seconds,
                "min_replies": MIN_REPLIES,
                "max_seconds": max(3 * self.args.seconds, 30.0),
            }
            proc = subprocess.run(
                [sys.executable, str(HERE / "client.py")],
                input=json.dumps(spec), capture_output=True, text=True, timeout=150,
            )
        if proc.returncode != 0:
            raise RuntimeError(f"client failed: {proc.stderr[-2000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        self.attempted += out["attempted"]
        self.failed += out["failed"]
        self.errors += out["errors"]
        return out

    def execute_etl(self) -> dict:
        """The end-to-end values; empty when an operation failed."""
        spark_s = self.start_session()
        gen_s, paths, _ = self.make_inputs(inputs.make_raw_sources)
        published = self.work / "published"
        pass_s = self.dag1_pass(paths, published)
        if pass_s is None:
            return {}
        tables = self.check_published(published)
        service, register_s = self.register(published, sorted(tables))
        served = self.serve(service, tables)
        if not served:
            return {}
        lat = served["latencies_ms"]
        tail = stats.tail_percentile(len(lat))
        if tail is None or tail < 75:
            self.errors.append(f"{len(lat)} timed replies: too few for a 75th percentile")
            return {}
        self.record.update({
            "replies": len(lat),
            "sweeps": len(served["sweeps_s"]),
            "highest_percentile_with_10_beyond": tail,
            "warmup_p50_ms": served["warmup_p50_ms"],
            "warmup_replies": served["warmup_replies"],
            "session_s": spark_s,
            "input_gen_s": gen_s,
            "register_s": register_s,
        })
        e2e = {
            "setup_s": spark_s + gen_s + register_s,
            "cold_pass_s": pass_s,
            "mix_s": statistics.median(served["sweeps_s"]),
        }
        files, nbytes = tree_bytes(published)
        self.measured = dict(
            spark_s=spark_s, register_s=register_s, served=served, e2e=e2e,
            files_written=files, bytes_written=nbytes,
        )
        return e2e

    # ---------------- catalog ----------------

    def catalog_block(self, queries: dict, order: list[str], sf_dir: Path, first: dict | None) -> dict | None:
        """One block of the mix: per entry its build and collect times,
        its rounds to fixpoint (LOOPED entries) and its fingerprint,
        checked against the first block's. None when an entry raised."""
        from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import LAST_ROUNDS

        entries, prints = {}, {}
        t0 = time.perf_counter()
        with self.span("block"):
            for name in order:
                self.attempted += 1
                self.spark.catalog.clearCache()
                LAST_ROUNDS.pop(name, None)
                try:
                    t1 = time.perf_counter()
                    with self.span(f"plans.{name}.build"):
                        df = queries[name].fn(self.spark, str(sf_dir))
                    t2 = time.perf_counter()
                    with self.span(f"plans.{name}.exec"):
                        rows = df.collect()
                    t3 = time.perf_counter()
                except Exception as e:  # noqa: BLE001 - an entry raising is a failed operation
                    self.failed += 1
                    self.errors.append(f"{name} failed: {type(e).__name__}: {e}")
                    return None
                entries[name] = {"build_s": t2 - t1, "exec_s": t3 - t2, "rounds": LAST_ROUNDS.get(name)}
                prints[name] = mix.fingerprint(df.columns, rows)
                err = checks.check_entry(name, prints[name], first and first[name], None)
                if err:
                    self.failed += 1
                    self.errors.append(err)
        return {"wall_s": time.perf_counter() - t0, "entries": entries, "fingerprints": prints}

    def execute_catalog(self) -> dict:
        """The end-to-end values; empty when an operation failed."""
        from state_economics_end_to_end_data_pipeline_spark.plans import load_all
        from state_economics_end_to_end_data_pipeline_spark.streaming import events

        spark_s = self.start_session()
        gen_s, rows, sf_dir = self.make_inputs(tables.make_catalog_tables)
        if rows != tables.expected_rows():
            self.errors.append(f"generated tables hold {rows} rows, expected {tables.expected_rows()}")
        # the streaming entry's checkpoints go under the run's work dir
        # (the program's default base is a tmpfs outside the checkout)
        (self.work / "stream-checkpoints").mkdir()
        events._CKPT_BASE = str(self.work / "stream-checkpoints")
        queries = load_all()
        orders = mix.block_orders(self.args.seed)

        cold = self.catalog_block(queries, next(orders), sf_dir, None)
        if cold is None:
            return {}
        t0 = time.perf_counter()
        oracles = mix.oracle_fingerprints(sf_dir, {n: queries[n].oracle for n in mix.MIX if queries[n].oracle})
        self.record["oracle_s"] = time.perf_counter() - t0
        self.record["oracle_checked"] = sorted(oracles)
        for name, want in oracles.items():
            self.attempted += 1
            err = checks.check_entry(name, cold["fingerprints"][name], None, want)
            if err:
                self.failed += 1
                self.errors.append(err)

        timed: list[dict] = []
        t0 = time.perf_counter()
        while len(timed) < MIN_TIMED_BLOCKS or time.perf_counter() - t0 < self.args.seconds:
            block = self.catalog_block(queries, next(orders), sf_dir, cold["fingerprints"])
            if block is None:
                return {}
            timed.append(block)

        def per_entry(key: str) -> dict:
            return {n: statistics.median(b["entries"][n][key] for b in timed) for n in mix.MIX}

        rounds = {n: [b["entries"][n]["rounds"] for b in [cold, *timed]] for n in mix.LOOPED}
        self.record.update({
            "blocks": len(timed),
            "block_s": [b["wall_s"] for b in timed],
            "cold_entry_s": {n: e["build_s"] + e["exec_s"] for n, e in cold["entries"].items()},
            "build_s": per_entry("build_s"),
            "exec_s": per_entry("exec_s"),
            "rounds": rounds,
            "session_s": spark_s,
            "input_gen_s": gen_s,
        })
        e2e = {
            "setup_s": spark_s + gen_s,
            "cold_pass_s": cold["wall_s"],
            "mix_s": statistics.median(b["wall_s"] for b in timed),
        }
        self.measured = dict(spark_s=spark_s, rounds={n: r[1:] for n, r in rounds.items()}, e2e=e2e)
        return e2e

    # ---------------- the run ----------------

    def stop(self) -> None:
        """Stop the session, its JVM and the JVM's Python workers."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def terminate(*_) -> None:
    """SIGTERM: exit through the cleanup, so an interrupted run still stops
    the JVM and removes its work dir; a second SIGTERM must not cut that
    cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, terminate)
    root = Path.cwd().resolve()
    if root != HERE.parent:
        print(f"e2ebench: run from the repo root ({HERE.parent}), not {root}", file=sys.stderr)
        return 2
    missing = [p for p in (PACKAGE, "tests/fixtures_gen.py", "BENCHMARK.json") if not (root / p).exists()]
    if missing:
        print(f"e2ebench: not a checkout of the program; missing {missing}", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    # the tier-1 posture: one local slot per usable core
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, str(root))

    work = root / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    run = Run(args, work)
    if args.trace:
        from spans import Tracer

        run.tracer = Tracer()
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    try:
        try:
            e2e = run.execute_etl() if args.workload == "etl" else run.execute_catalog()
            cores = run.spark.sparkContext.defaultParallelism
            spark_version = run.spark.version
        finally:
            run.stop()
        layer = {}
        if args.trace and e2e:
            from layers import per_layer_metrics

            layer = per_layer_metrics(run.tracer.spans, work / "events", run.measured, run.input_bytes, cores)
            run.record["job_attribution"] = (
                "job group of the innermost open span; jobs of no span's group, such as a "
                "streaming query's micro-batches, by the time window they were submitted in"
            )
            run.tracer.write(root / ".bench_out" / f"spans-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run.record.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_default_parallelism": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        # CPU time the hypervisor gave other tenants while this run wanted it
        "cpu_steal_share": steal_share(ticks_start, cpu_ticks()),
        "git_commit": git_commit(root),
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "errors": run.errors[:10],
    })
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted if m["name"] in values}
    correct = not run.errors and len(metrics) == len(wanted)
    if values and len(metrics) != len(wanted):
        run.record["errors"].append(f"metrics not computed: {[m['name'] for m in wanted if m['name'] not in values]}")
    print(json.dumps({"record": run.record}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

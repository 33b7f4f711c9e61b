"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every traced run reports every per-layer metric; a layer the workload
does not cross reads 0. Spark metrics come in three scopes:
``spark.pass.*`` sums the jobs of the DAG1 pass and ``spark.request.*``
averages the jobs of the timed ``/get_data`` requests per request (both
``etl``), ``spark.block.*`` is the median over the timed blocks of the
catalog mix (``catalog``). Catalog figures are medians over the timed
blocks; the first block, the cold one, is left out.
"""

from __future__ import annotations

from statistics import median

from inputs import LIMITS
from mix import LOOPED, MIX
from spans import read_event_log, self_times, subtree
from stats import percentile

SPARK_KEYS = (
    "jobs", "stages", "tasks", "job_ms_p50", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "slot_busy_share", "jobs_by_window",
)


def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _total_s(spans: list[dict], name: str) -> float:
    return sum(_dur(s) for s in _named(spans, name))


def _spark(jobs: list[dict], units: int, wall_s: float, cores: int, by_window: int) -> dict:
    """Job metrics per unit of work, and the share of the slots' time
    over ``wall_s`` that tasks ran."""
    if not units:
        return dict.fromkeys(SPARK_KEYS, 0.0)
    run_s = sum(j["executor_run_ms"] for j in jobs) / 1000.0
    per = {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(j["executor_cpu_ns"] for j in jobs) / 1e9,
        "jobs_by_window": by_window,
    }
    out = {k: v / units for k, v in per.items()}
    out["job_ms_p50"] = _med((j["end"] - j["submit"]) * 1000.0 for j in jobs)
    out["slot_busy_share"] = _div(run_s, wall_s * cores)
    return out


def _attribute(jobs: list[dict], span_ids: set[int], window: tuple[float, float]) -> tuple[list[dict], int]:
    """Jobs whose group is one of span_ids, plus the jobs submitted inside
    the window whose group is no span's (none, or a streaming query's run
    id); the second value counts the latter."""
    groups = {f"span-{i}" for i in span_ids}
    grouped = [j for j in jobs if j["group"] in groups]
    lo, hi = window
    by_window = [
        j for j in jobs
        if not (j["group"] or "").startswith("span-") and lo <= j["submit"] <= hi
    ]
    return grouped + by_window, len(by_window)


def attributed_share(root: dict, descendants: list[dict]) -> float:
    """The share of root's wall that its descendant spans cover: 1 when
    they tile it, less for every gap the wrapped layers leave."""
    selfs = self_times([root, *descendants])
    return _div(_dur(root) - selfs[root["id"]], _dur(root))


def _etl(spans: list[dict], jobs: list[dict], measured: dict, input_bytes: int, cores: int) -> dict:
    roots = _named(spans, "pass")
    root = roots[0] if roots else {"id": None, "start": 0.0, "end": 0.0}
    within = subtree(spans, root["id"]) if roots else []
    validate_s = _total_s(within, "pipelines.economics.validate_outputs")
    pk_s = _total_s(within, "operators.quality.check_primary_key")
    owner = {f"span-{s['id']}": s["name"] for s in within}

    def jobs_of(name: str) -> int:
        return sum(1 for j in jobs if owner.get(j["group"]) == name)

    files, nbytes = measured.get("files_written", 0), measured.get("bytes_written", 0)
    out = {
        "pipelines.economics.run_s": _total_s(within, "pipelines.economics.run"),
        "io.readers.read_excel_sheet_s": _total_s(within, "io.readers.read_excel_sheet"),
        "io.readers.read_csv_s": _total_s(within, "io.readers.read_csv"),
        "io.readers.calls": len(_named(within, "io.readers.read_csv")) + len(_named(within, "io.readers.read_excel_sheet")),
        "pipelines.economics.validate_outputs_s": validate_s,
        "operators.quality.check_primary_key_s": pk_s,
        "operators.quality.check_primary_key_calls": len(_named(within, "operators.quality.check_primary_key")),
        "operators.quality.check_primary_key_jobs": jobs_of("operators.quality.check_primary_key"),
        "pipelines.economics.fk_gate_s": validate_s - pk_s,
        "pipelines.economics.fk_gate_jobs": jobs_of("pipelines.economics.validate_outputs"),
        "pipelines.economics.publish_s": _total_s(within, "pipelines.economics.publish"),
        "io.writers.write_parquet_s": _total_s(within, "io.writers.write_parquet"),
        "io.writers.write_parquet_jobs": jobs_of("io.writers.write_parquet"),
        "io.writers.files_written": files,
        "io.writers.bytes_written": nbytes,
        "io.writers.bytes_per_input_byte": _div(nbytes, input_bytes) if roots else 0.0,
        "serving.service.register_parquet_s": measured.get("register_s", 0.0),
        "trace.pass_attributed_share": attributed_share(root, within) if roots else 0.0,
    }
    pass_jobs, by_window = _attribute(jobs, {root["id"], *(s["id"] for s in within)}, (root["start"], root["end"]))
    out.update({f"spark.pass.{k}": v for k, v in _spark(pass_jobs, len(roots), _dur(root), cores, by_window).items()})

    served = measured.get("served") or {"timed_window": (0.0, 0.0), "latencies_ms": [], "timed_s": 0.0}
    lo, hi = served["timed_window"]
    requests = [s for s in _named(spans, "serving.service.get_data") if lo <= s["start"] < hi]
    service_ms = [_dur(s) * 1000.0 for s in requests]
    client_ms = served["latencies_ms"]
    out.update({
        "serving.service.get_data_calls": len(requests),
        "serving.service.get_data_ms_p50": _med(service_ms),
        "serving.service.get_data_ms_p75": percentile(service_ms, 75) if service_ms else 0.0,
        "serving.http_api.overhead_ms_p50": _med(client_ms) - _med(service_ms),
        "serving.client.latency_p50_ms": _med(client_ms),
        "serving.client.latency_p75_ms": percentile(client_ms, 75) if client_ms else 0.0,
        "serving.client.requests_per_s": _div(len(client_ms), served["timed_s"]),
    })
    for limit in LIMITS:
        out[f"serving.service.get_data_ms_p50.limit{limit}"] = _med(
            _dur(s) * 1000.0 for s in requests if s["limit"] == limit
        )
    req_jobs, by_window = _attribute(jobs, {s["id"] for s in requests}, (lo, hi))
    out.update({
        f"spark.request.{k}": v
        for k, v in _spark(req_jobs, len(requests), hi - lo, cores, by_window).items()
    })
    return out


def _catalog(spans: list[dict], jobs: list[dict], measured: dict, cores: int) -> dict:
    blocks = sorted(_named(spans, "block"), key=lambda s: s["start"])[1:]
    per_block: list[dict] = []
    for block in blocks:
        within = subtree(spans, block["id"])
        m: dict = {}
        for entry in MIX:
            build = _named(within, f"plans.{entry}.build")
            run = build + _named(within, f"plans.{entry}.exec")
            ids = {s["id"] for s in run}
            for s in run:
                ids |= {d["id"] for d in subtree(spans, s["id"])}
            window = (min(s["start"] for s in run), max(s["end"] for s in run)) if run else (0.0, -1.0)
            m[f"{entry}.build_s"] = sum(_dur(s) for s in build)
            m[f"{entry}.exec_s"] = sum(_dur(s) for s in run) - m[f"{entry}.build_s"]
            m[f"{entry}.jobs"] = len(_attribute(jobs, ids, window)[0])
            build_ids = {d["id"] for s in build for d in [s, *subtree(spans, s["id"])]}
            m[f"{entry}.build_jobs"] = len(_attribute(jobs, build_ids, (0.0, -1.0))[0])
        for layer in ("operators.partitioning.stage_loop_edges", "io.readers.read_parquet_table"):
            m[f"{layer}_s"] = _total_s(within, layer)
            m[f"{layer}_calls"] = len(_named(within, layer))
        block_jobs, by_window = _attribute(jobs, {block["id"], *(s["id"] for s in within)}, (block["start"], block["end"]))
        m.update({f"spark.block.{k}": v for k, v in _spark(block_jobs, 1, _dur(block), cores, by_window).items()})
        m["spark.python_exec_s"] = sum(j["python_run_ms"] for j in block_jobs) / 1000.0
        m["spark.python_bytes_received"] = sum(j["python_bytes_received"] for j in block_jobs)
        m["trace.block_attributed_share"] = attributed_share(block, within)
        per_block.append(m)

    def med(key: str) -> float:
        return _med(b[key] for b in per_block)

    out = {}
    for entry in MIX:
        for k in ("build_s", "exec_s", "jobs"):
            out[f"plans.{entry}.{k}"] = med(f"{entry}.{k}")
    rounds = measured.get("rounds", {})
    for entry in LOOPED:
        r = _med(rounds.get(entry, []))
        out[f"plans.graph_analytics.rounds.{entry}"] = r
        out[f"plans.graph_analytics.jobs_per_round.{entry}"] = _div(med(f"{entry}.build_jobs"), r)
    for key in (
        "operators.partitioning.stage_loop_edges_s", "operators.partitioning.stage_loop_edges_calls",
        "io.readers.read_parquet_table_s", "io.readers.read_parquet_table_calls",
        *(f"spark.block.{k}" for k in SPARK_KEYS),
        "spark.python_exec_s", "spark.python_bytes_received",
        "trace.block_attributed_share",
    ):
        out[key] = med(key)
    return out


def per_layer_metrics(spans: list[dict], event_dir, measured: dict, input_bytes: int, cores: int) -> dict:
    jobs = read_event_log(event_dir)
    out = {"session.get_spark_s": measured["spark_s"]}
    out.update(_etl(spans, jobs, measured, input_bytes, cores))
    out.update(_catalog(spans, jobs, measured, cores))
    for name, value in measured["e2e"].items():
        out[f"traced.{name}"] = value
    return out


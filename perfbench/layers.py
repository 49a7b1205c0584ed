"""Per-layer metrics of a traced run, named after the package's modules.

Inputs: the run's spans (``spans.Tracer``), the jobs of its Spark
event log (``eventlog.read_jobs``) and, for stream workloads, the
per-trigger durations from the progress listener. A job belongs to the
innermost span open at its submission time; an operation (micro-batch
or query execution) owns every span and job that carries its key.
Timings are medians over the run's operations. A layer the workload
does not exercise reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from spans import innermost_at, self_times
from stats import median

GATES = ("dedup", "embdedup", "segdedup", "decon", "quality", "ann")
QUERIES = ("q01", "q42", "q50", "q53", "q62", "q90", "q117", "q145")
STREAM_FIELDS = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
}


def _units() -> dict[str, str]:
    u = {"session.start_s": "s", **{k: "ms" for k in STREAM_FIELDS},
         "train.batch_s": "s", "train.self_s": "s", "ml.update_s": "s", "ml.predict_s": "s",
         "registry.save_s": "s", "wire.quarantine_ratio": "ratio",
         "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
         "spark.shuffle_bytes": "bytes", "spark.busy_ratio": "ratio",
         "door.batch_s": "s", "door.self_s": "s", "door.build_s": "s",
         "door.dedup.index_rows": "rows", "door.ann.index_rows": "rows",
         "error_rate": "ratio", "peak_rss_mb": "MB"}
    for g in GATES:
        u.update({f"door.{g}.self_s": "s", f"door.{g}.jobs": "count", f"door.{g}.keep_ratio": "ratio"})
    for q in QUERIES:
        u.update({f"q.{q}.s": "s", f"q.{q}.jobs": "count", f"q.{q}.tasks": "count",
                  f"q.{q}.shuffle_bytes": "bytes", f"q.{q}.busy_ratio": "ratio"})
    return u


UNITS = _units()


def attribute_jobs(tracer, jobs: list[dict]) -> list[int | None]:
    """For each job, the index of the innermost span open when it was
    submitted (None: submitted outside every span)."""
    spans = tracer.spans
    out = []
    for j in jobs:
        out.append(innermost_at(spans, tracer.from_epoch_ms(j["submit_ms"])))
    return out


def _op_spark(op_spans: list[int], spans, jobs, owner, cores: int) -> dict[str, list[float]]:
    """Spark work per operation span: jobs owned by any span carrying
    the operation's key."""
    by_key: dict = defaultdict(list)
    for j, si in zip(jobs, owner):
        if si is not None:
            by_key[spans[si]["key"]].append(j)
    out: dict[str, list[float]] = defaultdict(list)
    for i in op_spans:
        s = spans[i]
        js = by_key.get(s["key"], [])
        wall = s["end"] - s["start"]
        out["jobs"].append(len(js))
        out["stages"].append(sum(j["stages"] for j in js))
        out["tasks"].append(sum(j["tasks"] for j in js))
        out["shuffle_bytes"].append(sum(j["shuffle_write_bytes"] for j in js))
        run_s = sum(j["executor_run_ms"] for j in js) / 1000.0
        out["busy_ratio"].append(run_s / (wall * cores) if wall > 0 else 0.0)
    return out


def per_layer(tracer, jobs: list[dict], res: dict, ctx) -> dict[str, float]:
    spans = tracer.spans
    selfs = self_times(spans)
    owner = attribute_jobs(tracer, jobs)
    m = {k: 0.0 for k in UNITS}
    m["error_rate"] = ctx.failed / ctx.attempted if ctx.attempted else 0.0

    def named(name: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s["name"] == name]

    def per_key(name: str, keys, use_self: bool = False) -> list[float]:
        """Per operation key, the summed (self) time of spans ``name``."""
        acc = {k: 0.0 for k in keys}
        for i in named(name):
            if spans[i]["key"] in acc:
                acc[spans[i]["key"]] += selfs[i] if use_self else spans[i]["end"] - spans[i]["start"]
        return list(acc.values())

    def med(xs) -> float:
        return median(xs) if xs else 0.0

    def jobs_per_key(name: str, keys) -> list[float]:
        acc = {k: 0 for k in keys}
        for si in owner:
            if si is not None and spans[si]["name"] == name and spans[si]["key"] in acc:
                acc[spans[si]["key"]] += 1
        return list(acc.values())

    sess = named("session.start")
    if sess:
        m["session.start_s"] = spans[sess[0]]["end"] - spans[sess[0]]["start"]
    m.update({k: float(v) for k, v in res["layer_extra"].items() if k in m})

    run = res["run"]
    if run is not None:
        prog = [run["progress"][b] for b in sorted(run["batches"]) if b in run["progress"]]
        for k, f in STREAM_FIELDS.items():
            m[k] = med([p.get(f, 0.0) for p in prog])
    op_name = next((n for n in ("train.batch", "door.batch") if named(n)), None)
    if op_name is not None:
        ops = named(op_name)
        keys = [spans[i]["key"] for i in ops]
        layer = op_name.split(".")[0]
        m[f"{layer}.batch_s"] = med([spans[i]["end"] - spans[i]["start"] for i in ops])
        m[f"{layer}.self_s"] = med([selfs[i] for i in ops])
        if layer == "train":
            m["ml.update_s"] = med(per_key("ml.update", keys))
            m["ml.predict_s"] = med(per_key("ml.predict", keys))
            m["registry.save_s"] = med(per_key("registry.save", keys))
        else:
            for g in GATES:
                m[f"door.{g}.self_s"] = med(per_key(f"door.{g}", keys, use_self=True))
                m[f"door.{g}.jobs"] = med(jobs_per_key(f"door.{g}", keys))
    else:
        ops = [i for i, s in enumerate(spans) if s["name"].startswith("q.")]
    for k, v in _op_spark(ops, spans, jobs, owner, ctx.cores).items():
        m[f"spark.{k}"] = med(v)
    for q in QUERIES:
        qs = named(f"q.{q}")
        if not qs:
            continue
        m[f"q.{q}.s"] = med([spans[i]["end"] - spans[i]["start"] for i in qs])
        for k, v in _op_spark(qs, spans, jobs, owner, ctx.cores).items():
            if f"q.{q}.{k}" in m:
                m[f"q.{q}.{k}"] = med(v)
    return m

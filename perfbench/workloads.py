"""The benchmark workloads. Each drives the engine from outside through
its public entry points and returns the run's raw record: operation
timings, output checks, and (traced) spans and per-batch progress.

Stream workloads are a closed loop: a pre-written backlog is replayed
through ``availableNow`` with one file per trigger, so each micro-batch
starts when the previous one commits. Analytics is a closed loop with
one client: the next query starts when the previous one finishes.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import sys
import threading
import time
import traceback
from contextlib import nullcontext

import gen

# the reference's 5 s trigger carries 1000-3000 records; its primary
# model is the passive-aggressive classifier (PAC_<batch size>)
TWEETS_PER_FILE = 1000
# the trainer's first micro-batch pays JVM code generation and Python
# worker start-up, and the JIT keeps speeding later ones up for several
# batches: a small batch and three full ones run through a throwaway
# trainer before the clock
WARMUP_RECORDS = 100
WARMUP_FULL_BATCHES = 3
DOOR_PER_FILE = 1000
# warehouse the door corpus and the analytics client read: fixed data,
# generated once per checkout, so the DuckDB twins' results are computed
# once too (the door's stream still comes from the run's seed; the
# analytics inputs do not depend on it)
WAREHOUSE_SEED = 42
WAREHOUSE_SF = 0.01
# scan+aggregate (q01), text scoring (q117), the small-query tail
# (q42/q53/q62) and the heavy, job-count-bound tail (q50/q90/q145).
# Every one has a DuckDB twin in plans.ORACLES.
ANALYTICS_QUERIES = (
    "q01_pricing_summary", "q42_word_count_topk", "q50_minhash_candidates",
    "q53_cosine_topk", "q62_session_windows", "q90_dedup_clusters",
    "q117_bm25_topk", "q145_nation_pagerank",
)
# held-out accuracy floor: with balanced labels a constant predictor
# scores 0.5, and with a fraction ``LABEL_NOISE`` of labels flipped a
# perfect model scores about 1 - noise; the floor is the midpoint. It
# applies to the accuracy pooled over every measured batch's held-out
# records, so a model that goes bad after a good early batch fails it.
ACC_FLOOR = (0.5 + (1.0 - gen.LABEL_NOISE)) / 2


def pooled_accuracy(history: list[dict]) -> float | None:
    """Held-out accuracy over all the given metrics rows, each batch
    weighted by its held-out count (None: nothing held out)."""
    n = sum(r["batchsize"] for r in history)
    return sum(r["acc"] * r["batchsize"] for r in history) / n if n else None


class Ctx:
    """One run: where it writes, what it measured, what failed.

    An operation is a micro-batch or a query execution. It fails when
    it raises or when an output check about it fails; a failed check
    about the whole run (model quality, index growth) fails every
    operation of the run."""

    def __init__(self, root: str, work: str, seed: int, seconds: int, tracer, cores: int):
        self.root = root
        self.work = work
        # inputs that do not depend on the seed, kept across runs
        self.cache = os.path.join(root, ".perfbench_cache")
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.ops: dict = {}  # operation key -> ok
        self.checks: list[dict] = []

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not ok for ok in self.ops.values())

    def op(self, key, ok: bool = True) -> None:
        self.ops[key] = self.ops.get(key, True) and bool(ok)

    def span(self, name: str, key=None):
        return self.tracer.span(name, key) if self.tracer is not None else nullcontext()

    def check(self, name: str, ok: bool, detail=None, ops=None) -> None:
        """Record an output check; when it fails, so do the operations
        ``ops`` (None: every operation of the run)."""
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)
            for k in self.ops if ops is None else ops:
                self.op(k, False)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every process it started (for this
    process: the JVM and Spark's Python workers): utime+stime of
    ``root`` and its live descendants plus what they collected from
    children already reaped. Time the hypervisor steals from the
    machine is not charged to processes (contention for shared caches
    on a busy host still is)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(d)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _CLK_TCK


def start_spark(ctx: Ctx):
    """The engine's session on local[<cores>]; the traced run adds an
    uncompressed, non-rolling event log."""
    from ml_with_spark_streaming_spark.session import get_spark

    conf = {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": ctx.path("checkpoints"),
    }
    if ctx.tracer is not None:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with ctx.span("session.start"):
        spark = get_spark(app_name="perfbench", master=f"local[{ctx.cores}]", extra_conf=conf)
        spark.range(1).collect()
    return spark


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Per-trigger durations, delivered as each batch commits
        (``recentProgress`` keeps only the last 100)."""

        def __init__(self) -> None:
            self.by_batch: dict[int, dict] = {}
            self.cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.cv:
                self.by_batch[int(p.batchId)] = {k: float(v) for k, v in p.durationMs.items()}
                self.cv.notify_all()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def run_stream(ctx: Ctx, spark, sink, stream_df) -> dict:
    """Replay the backlog through ``sink.attach(..., available_now=True)``
    and time it. The first batch to start after ``ctx.seconds`` (once
    one batch has run) is passed over without calling the engine, and
    the query is stopped there.

    Returns ``{"t0", "cpu_s", "batches": {bid: (start, end, ok)},
    "progress": {bid: durationMs}}``; times are monotonic seconds,
    ``cpu_s`` the process tree's CPU time while the stream ran."""
    inner = sink.process_batch
    batches: dict[int, tuple[float, float, bool]] = {}
    clock = {"deadline": math.inf}
    done = threading.Event()

    def gated(df, bid):
        if batches and time.monotonic() >= clock["deadline"]:
            done.set()
            return
        t0 = time.monotonic()
        ok = True
        try:
            inner(df, bid)
        except Exception:  # noqa: BLE001 — a failed batch is counted, the stream goes on
            traceback.print_exc()
            ok = False
        batches[int(bid)] = (t0, time.monotonic(), ok)

    sink.process_batch = gated
    listener = _progress_listener()
    spark.streams.addListener(listener)
    try:
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.monotonic()
        clock["deadline"] = t0 + ctx.seconds
        q = sink.attach(stream_df, checkpoint=ctx.path("stream-ckpt"), available_now=True)
        try:
            # stop at the first passed-over batch rather than draining
            # the rest of the backlog trigger by trigger
            while q.isActive and not done.wait(0.05) and time.monotonic() < t0 + 150:
                pass
            cpu_s = tree_cpu_s(os.getpid()) - cpu0
        finally:
            q.stop()
        with listener.cv:
            # progress is delivered asynchronously; the traced run's
            # stream.* metrics use whatever arrived
            listener.cv.wait_for(lambda: all(b in listener.by_batch for b in batches), timeout=2)
    finally:
        spark.streams.removeListener(listener)
        sink.process_batch = inner
    for bid, (_s, _e, ok) in batches.items():
        ctx.op(bid, ok)
    return {"t0": t0, "cpu_s": cpu_s, "batches": batches, "progress": dict(listener.by_batch)}


def batch_seconds(run: dict) -> list[float]:
    """Per measured micro-batch, the time spent processing it (the
    foreachBatch call). Trigger overheads around it (listing, planning,
    WAL, commit) count in the stream's throughput and, per phase, in
    the traced run's ``stream.*`` metrics."""
    return [e - s for s, e, _ok in (run["batches"][b] for b in sorted(run["batches"]))]


# --------------------------------------------------------------------
# tweets: StreamingTrainer over the wire format
# --------------------------------------------------------------------


def tweets(ctx: Ctx, per_file: int) -> dict:
    # backlog enough for an engine 3x faster than today's ~2 s per
    # 1000-record batch
    n_files = math.ceil(ctx.seconds / (0.6 * per_file / 1000)) + 2
    tg = time.monotonic()
    manifest = gen.write_tweet_backlog(ctx.path("in"), ctx.seed, per_file, n_files)
    gen.write_tweet_backlog(ctx.path("warm"), ctx.seed, WARMUP_RECORDS, 1, stream=1)
    gen.write_tweet_backlog(ctx.path("warm"), ctx.seed, per_file, WARMUP_FULL_BATCHES,
                            stream=2, first_index=1)
    gen_s = time.monotonic() - tg

    spark = start_spark(ctx)
    from ml_with_spark_streaming_spark.ml.incremental import IncrementalLinearClassifier
    from ml_with_spark_streaming_spark.ml.registry import ModelRegistry
    from ml_with_spark_streaming_spark.streaming.train import StreamingTrainer

    def lines(d):
        return spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(ctx.path(d))

    # warm-up through a throwaway trainer: the measured stream starts
    # on a warm JVM with live Python workers
    warm = StreamingTrainer(model=IncrementalLinearClassifier(),
                            registry=ModelRegistry(ctx.path("warm-models")), key="warmup")
    q = warm.attach(lines("warm"), checkpoint=ctx.path("warm-ckpt"), available_now=True)
    q.awaitTermination(150)
    q.stop()

    trainer = StreamingTrainer(model=IncrementalLinearClassifier(),
                               registry=ModelRegistry(ctx.path("models")),
                               key=f"PAC_{per_file}", stem=True)
    if ctx.tracer is not None:
        tr = ctx.tracer
        tr.wrap(trainer, "process_batch", "train.batch", key_arg=1)
        tr.wrap(trainer.model, "update", "ml.update")
        tr.wrap(trainer.model, "predict", "ml.predict")
        tr.wrap(trainer.registry, "save", "registry.save")
        tr.wrap(trainer.registry, "save_if_best", "registry.save")
    stream = lines("in")
    run = run_stream(ctx, spark, trainer, stream)

    # ---- output checks (untimed) ----
    hist = {r["batch_id"]: r for r in trainer.history}
    done = sorted(run["batches"])
    ctx.check("every measured batch left a metrics row", all(b in hist for b in done),
              {"batches": done, "history": sorted(hist)}, ops=[b for b in done if b not in hist])
    from pyspark.sql import functions as F

    # the held-out fifth is the records whose text hashes to 0 mod 5;
    # recount it from the generated texts, apart from the engine's plan
    rows = [(b, t) for b in done for t in manifest["files"][b]["texts"]]
    held = {b: 0 for b in done}
    counted = (spark.createDataFrame(rows, "b int, tweet string").groupBy("b")
               .agg(F.sum((F.pmod(F.hash("tweet"), F.lit(5)) == 0).cast("long")).alias("n"))
               .collect())
    held.update({r["b"]: int(r["n"]) for r in counted})
    bad = [{"batch": b, "quarantined": hist[b]["quarantined"],
            "planted": manifest["files"][b]["quarantine"],
            "held_out": hist[b]["batchsize"], "recount": held[b]}
           for b in done if b in hist
           and (hist[b]["quarantined"], hist[b]["batchsize"])
           != (manifest["files"][b]["quarantine"], held[b])]
    # trained = generated - held out - quarantined is what the model saw
    ctx.check("per batch: quarantined == planted and held out == recount", not bad, bad[:3],
              ops=[r["batch"] for r in bad])
    acc = pooled_accuracy([hist[b] for b in done if b in hist])
    ctx.check(f"held-out accuracy over the measured batches >= {ACC_FLOOR:.3f}",
              acc is not None and acc >= ACC_FLOOR, {"accuracy": acc})

    records = sum(manifest["files"][b]["generated"] for b in done)
    quarantined = sum(hist[b]["quarantined"] for b in done if b in hist)
    end = max(e for _s, e, _ok in run["batches"].values())
    secs = batch_seconds(run)
    return {
        "spark": spark, "gen_s": gen_s, "t_measure0": run["t0"], "run": run,
        "ops": secs, "items": records, "measure_s": end - run["t0"], "cpu_s": run["cpu_s"],
        "info": {"records_per_s": records / (end - run["t0"]), "batches": len(done),
                 "heldout_accuracy": acc, "planted": manifest["shares"]},
        "layer_extra": {"wire.quarantine_ratio": quarantined / records if records else 0.0},
    }


# --------------------------------------------------------------------
# door: StreamingIngestPipeline with every gate on
# --------------------------------------------------------------------

GATES = {
    # gate -> (pipeline attribute, history "in" key, history "kept" key)
    "dedup": ("dedup", "n_docs", "n_kept"),
    "embdedup": ("embdedup", "n_vecs", "n_kept"),
    "segdedup": ("segdedup", "n_docs", "n_docs_kept"),
    "decon": ("decon", "n_docs", "n_kept"),
    "quality": ("quality", "n_docs", "n_kept"),
    "ann": ("ann_maintainer", None, "n_vecs"),
}
FUNNEL = ("n_in", "n_after_dedup", "n_after_embdedup", "n_after_rewrite",
          "n_after_segquality", "n_after_decon", "n_after_quality", "n_accepted")


def _corpus(wh_dir: str):
    import pyarrow.parquet as pq

    d = pq.read_table(os.path.join(wh_dir, "documents.parquet"), columns=["doc_id", "text"])
    e = pq.read_table(os.path.join(wh_dir, "embeddings.parquet"), columns=["embedding"])
    docs = list(zip(d.column("doc_id").to_pylist(), d.column("text").to_pylist()))
    return docs, e.column("embedding").to_pylist()


def door(ctx: Ctx, per_file: int) -> dict:
    # backlog enough for an engine 3x faster than today's 16-21 s per
    # 1000-doc batch
    n_files = math.ceil(ctx.seconds / 4) + 1
    tg = time.monotonic()
    wh = gen.cached_warehouse(ctx.cache, WAREHOUSE_SEED, WAREHOUSE_SF)
    docs, vecs = _corpus(wh)
    manifest = gen.write_door_stream(ctx.path("in"), ctx.seed, docs, vecs, per_file, n_files)
    gen_s = time.monotonic() - tg

    spark = start_spark(ctx)
    from pyspark.sql import functions as F

    from ml_with_spark_streaming_spark.operators.quality_clf import (
        classifier_weights, feature_presence, heuristic_labels,
    )
    from ml_with_spark_streaming_spark.sources.batch import load_table
    from ml_with_spark_streaming_spark.streaming.ingest_pipeline import StreamingIngestPipeline
    from ml_with_spark_streaming_spark.streaming.quality_filter import freeze_weights

    tb = time.monotonic()
    corpus = load_table(spark, wh, "documents").select("doc_id", "text")
    frozen = freeze_weights(classifier_weights(feature_presence(corpus), heuristic_labels(corpus)))
    eval_corpus = spark.createDataFrame(manifest["eval"], "doc_id long, text string")
    emb_corpus = load_table(spark, wh, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding")
    pipe = StreamingIngestPipeline.build(
        corpus, frozen, eval_corpus=eval_corpus, embedding_corpus=emb_corpus,
        embedding_threshold=0.95, embedding_verify_mode="broadcast",
        segment_width=10, threshold=0.9, ann_n_centroids=16,
    )
    build_s = time.monotonic() - tb
    ann_before = pipe.ann_maintainer.index.n_vectors
    if ctx.tracer is not None:
        ctx.tracer.wrap(pipe, "process_batch", "door.batch", key_arg=1)
        for g, (attr, _i, _k) in GATES.items():
            ctx.tracer.wrap(getattr(pipe, attr), "process_batch", f"door.{g}", key_arg=1)
    stream = (spark.readStream.format("json")
              .schema("doc_id long, text string, embedding array<float>")
              .option("maxFilesPerTrigger", 1).load(ctx.path("in")))
    run = run_stream(ctx, spark, pipe, stream)

    # ---- output checks (untimed) ----
    done = sorted(run["batches"])
    led = {r["batch_id"]: r for r in pipe.ledger}
    ctx.check("every measured batch left a ledger row", all(b in led for b in done),
              {"batches": done, "ledger": sorted(led)}, ops=[b for b in done if b not in led])
    short = [b for b in done if b in led and led[b]["n_in"] != manifest["files"][b]["n"]]
    ctx.check("n_in == docs generated, per batch", not short,
              [led[b]["n_in"] for b in done if b in led], ops=short)
    grows = [b for b in done if b in led
             and any(led[b][a] < led[b][c] for a, c in zip(FUNNEL, FUNNEL[1:]))]
    ctx.check("ledger funnel never increases", not grows,
              [[led[b][k] for k in FUNNEL] for b in done if b in led], ops=grows)
    ci = pipe.ann_maintainer.index.c_id
    accepted = {int(r[0]) for r in pipe.ann_maintainer.index.assignments
                .filter(F.col(ci) >= 1_000_000).select(ci).collect()}
    n_accepted = sum(led[b]["n_accepted"] for b in done if b in led)
    grew = pipe.ann_maintainer.index.n_vectors - ann_before
    ctx.check("ANN index growth == n_accepted", grew == n_accepted == len(accepted),
              {"growth": grew, "n_accepted": n_accepted, "ids": len(accepted)})
    leaked = {b: [i for k in ("exact_dup", "eval_gram")
                  for i in manifest["files"][b][k] if i in accepted] for b in done}
    leaked = {b: ids for b, ids in leaked.items() if ids}
    ctx.check("planted exact duplicates and eval-gram docs all rejected", not leaked,
              {b: ids[:5] for b, ids in leaked.items()}, ops=list(leaked))

    records = sum(manifest["files"][b]["n"] for b in done)
    end = max(e for _s, e, _ok in run["batches"].values())
    extra = {"door.build_s": build_s, "door.ann.index_rows": float(pipe.ann_maintainer.index.n_vectors)}
    if ctx.tracer is not None:  # an extra count job: traced run only
        extra["door.dedup.index_rows"] = float(pipe.dedup.fp_index.count())
    for g, (attr, kin, kkept) in GATES.items():
        hist = [h for h in getattr(pipe, attr).history if h.get("batch_id") in run["batches"]]
        n_in = (sum(h.get(kin, 0) for h in hist) if kin
                else sum(led[b]["n_accepted"] for b in done if b in led))
        n_kept = sum(h.get(kkept, 0) for h in hist)
        extra[f"door.{g}.keep_ratio"] = n_kept / n_in if n_in else 0.0
    return {
        "spark": spark, "gen_s": gen_s, "t_measure0": run["t0"], "run": run,
        "ops": batch_seconds(run), "items": records, "measure_s": end - run["t0"],
        "cpu_s": run["cpu_s"],
        "info": {"records_per_s": records / (end - run["t0"]), "batches": len(done),
                 "funnel": {k: sum(led[b][k] for b in done if b in led) for k in FUNNEL},
                 "planted": manifest["shares"]},
        "layer_extra": extra,
    }


# --------------------------------------------------------------------
# analytics: one client over the named-query registry
# --------------------------------------------------------------------


def _oracle_helpers(root: str):
    """The row comparison of ``tools/check_oracle.py`` (it parses its
    own argv at import, so it is loaded with a neutral one)."""
    spec = importlib.util.spec_from_file_location(
        "_check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [argv[0]]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def result_digest(co, cols, rows) -> str:
    ms = co.rows_multiset(cols, rows)
    h = hashlib.sha256()
    for row, n in sorted(ms.items()):
        h.update(repr((row, n)).encode())
    return h.hexdigest()


def analytics(ctx: Ctx) -> dict:
    """One client runs the query list in its fixed order, pass after
    pass, until a pass ends after ``ctx.seconds`` (at least one pass;
    one pass is ~17 s today, so a run is each query's first execution
    in the process after set-up has warmed the JVM with one small
    query). Each query is collected, so its rows can be checked after
    the clock stops."""
    tg = time.monotonic()
    wh = gen.cached_warehouse(ctx.cache, WAREHOUSE_SEED, WAREHOUSE_SF)
    warm_wh = gen.cached_warehouse(ctx.cache, WAREHOUSE_SEED, 0.001)
    gen_s = time.monotonic() - tg

    spark = start_spark(ctx)
    from ml_with_spark_streaming_spark.plans import ORACLES, QUERIES

    # JVM, code-generation and parquet-reader warm-up on a tiny
    # warehouse, so the first query timed does not absorb it
    QUERIES["q01_pricing_summary"](spark, warm_wh).collect()

    lat: dict[tuple, float] = {}
    results: dict[tuple, tuple] = {}
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.monotonic()
    passes = 0
    while passes == 0 or time.monotonic() < t0 + ctx.seconds:
        for name in ANALYTICS_QUERIES:
            op = (passes, name)
            ctx.op(op)
            tq = time.monotonic()
            try:
                with ctx.span(f"q.{name.split('_')[0]}", f"{name}#{passes}"):
                    sdf = QUERIES[name](spark, wh)
                    rows = [tuple(r) for r in sdf.collect()]
            except Exception:  # noqa: BLE001 — a failed query is counted, the client goes on
                traceback.print_exc()
                ctx.op(op, False)
                continue
            lat[op] = time.monotonic() - tq
            results[op] = (sdf, rows)
        passes += 1
    end = time.monotonic()
    cpu_s = tree_cpu_s(os.getpid()) - cpu0
    _check_analytics(ctx, wh, results, ORACLES)
    return {
        "spark": spark, "gen_s": gen_s, "t_measure0": t0, "run": None,
        "ops": list(lat.values()), "items": len(lat), "measure_s": end - t0, "cpu_s": cpu_s,
        "info": {"passes": passes, "pass_s": (end - t0) / passes,
                 "query_s": {f"{n.split('_')[0]}#{p}": v for (p, n), v in lat.items()}},
        "layer_extra": {},
    }


def _oracle_record(ctx: Ctx, co, con, name: str, sql: str) -> dict:
    """Row count, column names, type problems and digest of a DuckDB
    twin's result. The warehouse is fixed, so the record is computed
    once per checkout and kept, keyed by the SQL text."""
    key = hashlib.sha256(f"{WAREHOUSE_SEED}/{WAREHOUSE_SF}/{sql}".encode()).hexdigest()[:24]
    path = os.path.join(ctx.cache, "oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rel = con.sql(sql)
    cols, rows = list(rel.columns), rel.fetchall()
    rec = {"rows": len(rows), "cols": sorted(cols),
           "problems": co.lint_duckdb_types(cols, list(rel.types)) + co.lint_rows(cols, rows, "duckdb"),
           "sha256": result_digest(co, cols, rows)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        json.dump(rec, f)
    os.replace(f"{path}.tmp", path)
    return rec


def _check_analytics(ctx: Ctx, wh: str, results: dict, oracles: dict) -> None:
    """Each query execution's result against its DuckDB twin (row
    count, column set, hashable cell types, exact row multiset: the
    comparison of ``tools/check_oracle.py``, by digest)."""
    import duckdb

    co = _oracle_helpers(ctx.root)
    con = duckdb.connect()
    try:
        for t in co.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{wh}/{t}.parquet'")
        for op in ctx.ops:
            p, name = op
            if op not in results:
                ctx.check(f"{name}#{p} ran", False, ops=[op])
                continue
            sdf, srows = results[op]
            cols = sdf.columns
            digest = result_digest(co, cols, srows)
            want = _oracle_record(ctx, co, con, name, oracles[name])
            problems = list(want["problems"])
            if len(srows) != want["rows"]:
                problems.append(f"rows spark={len(srows)} duckdb={want['rows']}")
            if sorted(cols) != want["cols"]:
                problems.append(f"columns spark={sorted(cols)} duckdb={want['cols']}")
            problems += co.lint_spark_schema(sdf) + co.lint_rows(cols, srows, "spark")
            if not problems and digest != want["sha256"]:
                problems.append("values differ")
            ctx.check(f"{name}#{p} == DuckDB twin", not problems, problems, ops=[op])
    finally:
        con.close()

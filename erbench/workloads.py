"""Workload runners: the measured runs (untraced, timed) and the
traced runs (each stage called on its own and materialized), for the
batch workloads and the re-crawl stream. Output checks count every
failure against the operations attempted."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

MIN_SAMPLES = 2  # timed passes per batch run at least; the run reports their median
SETUP_REPS = 3  # the repeatable part of set-up (corpus generation and landing)
F1_GATE = 0.99
N_BUCKETS = 64  # entity-table buckets; the stream and its traced replay share it


def log(msg: str) -> None:
    print(f"erbench: {msg}", file=sys.stderr, flush=True)


# -- operations and output checks ------------------------------------------------

class Ledger:
    """Operations attempted and failed; a failed output check is a
    failure, never a skip."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok


def entity_map_ok(rows, urls: set) -> bool:
    got = [r["url"] for r in rows]
    return len(got) == len(urls) and set(got) == urls


# -- batch workloads ------------------------------------------------------------------

def write_pages(pdf, path: str) -> None:
    """Land pages as one more parquet file in directory `path`, written
    aside and renamed in, so a reader never sees a partial file."""
    from entity_resolution_spark.datagen import PAGES_SCHEMA

    os.makedirs(path, exist_ok=True)
    name = f"part-{len(os.listdir(path)):05d}.parquet"
    table = pa.Table.from_pandas(pdf[PAGES_SCHEMA.fieldNames()], preserve_index=False)
    pq.write_table(table, os.path.join(path, "." + name), coerce_timestamps="us")
    os.replace(os.path.join(path, "." + name), os.path.join(path, name))


def repeated_setup(make) -> tuple[object, float]:
    """Run the repeatable part of set-up SETUP_REPS times; returns the
    last result and the median time of one repetition."""
    times = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = make(i)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def batch_setup(spark, workload: str, seed: int, work: str, ledger: Ledger):
    """Generate the corpus and write it as the pages parquet, then one
    warm-up pass over it: the first pass of a JVM is 2-3x slower while
    JIT and codegen warm up, and a pass over the same input leaves the
    same plans warm for the timed passes. Returns (corpus, pages,
    pipeline, set-up seconds with the generate + write counted once,
    at the median of its repetitions)."""
    from corpus import make_corpus
    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline

    def make(i):
        corpus = make_corpus(workload, seed)
        path = os.path.join(work, f"pages-{i}")
        write_pages(corpus.pages, path)
        return corpus, path

    (corpus, path), data_s = repeated_setup(make)
    pipe = EntityResolutionPipeline()
    pages = spark.read.parquet(path)
    t0 = time.time()
    checked_pass(pipe, pages, corpus, ledger, "warm-up pass")
    return corpus, pages, pipe, data_s + (time.time() - t0)


def checked_pass(pipe, pages, corpus, ledger: Ledger, what: str) -> tuple[float, float]:
    """One timed unit: the pages parquet -> a complete entity table on
    the driver, then (untimed) checked against the generator's labels.
    Returns (seconds, pairwise F1)."""
    from corpus import pairwise_f1

    t0 = time.perf_counter()
    try:
        rows = pipe.run(pages).select("url", "entity_id").collect()
    except Exception:  # noqa: BLE001 - every raise is a failed operation
        traceback.print_exc()
        ledger.record(False, f"{what}: raised")
        return time.perf_counter() - t0, 0.0
    dt = time.perf_counter() - t0
    log(f"{what}: {dt:.2f} s")
    f1 = pairwise_f1(corpus.labels, {r["url"]: r["entity_id"] for r in rows})
    ledger.record(
        entity_map_ok(rows, set(corpus.pages["url"])) and f1 >= F1_GATE,
        f"{what}: {len(rows)} rows for {len(corpus.pages)} urls, F1 {f1:.4f}",
    )
    return dt, f1


def run_batch(spark, jvm_pid, workload, seed, seconds, work, ledger, t_start):
    """Set-up ends with one warm-up pass (checked like every pass);
    the timed passes follow it."""
    from probes import Window, peak_rss_mb, summarize

    t_data = time.time()
    corpus, pages, pipe, rest_s = batch_setup(spark, workload, seed, work, ledger)
    setup_s = (t_data - t_start) + rest_s
    samples, f1s = [], []
    win = Window()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(samples) < MIN_SAMPLES:
        dt, f1 = checked_pass(pipe, pages, corpus, ledger, f"timed pass {len(samples) + 1}")
        samples.append(dt)
        f1s.append(f1)
    w = win.close()
    wall = summarize(samples)
    n_pages = len(corpus.pages)
    return {
        "setup_s": setup_s,
        "wall_s": wall["median"],
        "pages_per_s": n_pages / wall["median"],
        "batch_latency_s": wall["median"],
        "cpu_s": w["cpu_s"] / len(samples),
        "peak_rss_mb": peak_rss_mb(jvm_pid),
        "pairwise_f1": statistics.median(f1s),
    }, {"wall": wall, "pages": n_pages, **w}


# -- recrawl stream -------------------------------------------------------------------

class Stream:
    """The durable entity table fed by parquet micro-batches through
    start_incremental_er, one availableNow query per landed batch."""

    def __init__(self, spark, work: str, ledger: Ledger) -> None:
        self.spark = spark
        self.feed = os.path.join(work, "feed")
        self.table = os.path.join(work, "entities")
        self.ckpt = os.path.join(work, "stream-ckpt")
        self.ledger = ledger
        self.ids: dict[str, str] = {}  # url -> entity_id stamped so far
        self.fed: set[str] = set()

    def land(self, pdf) -> None:
        write_pages(pdf, self.feed)

    def process(self, timeout: float = 150.0):
        """Start the query on what has landed and wait for the commit;
        returns the query (its recentProgress holds the batch)."""
        from entity_resolution_spark.streaming.incremental_er import start_incremental_er

        q = start_incremental_er(self.spark, self.feed, self.table, self.ckpt, n_buckets=N_BUCKETS)
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(f"micro-batch not committed within {timeout}s")
        return q

    def check(self, pdf, what: str) -> bool:
        """Every url fed has exactly one row, and no url stamped before
        this batch changed its entity_id. The committed table is read
        with pyarrow: no Spark jobs between the timed batches, and about
        1 s less per check than a Spark read of its 64 bucket folders."""
        self.fed |= set(pdf["url"])
        rows = pq.read_table(self.table, columns=["url", "entity_id"]).to_pylist()
        now = {r["url"]: r["entity_id"] for r in rows}
        ok = entity_map_ok(rows, self.fed)
        moved = sum(now.get(u) != e for u, e in self.ids.items())
        self.ids = now
        return self.ledger.record(
            ok and moved == 0,
            f"{what}: {len(rows)} rows for {len(self.fed)} urls fed, {moved} ids changed",
        )

    def cycle(self, pdf, what: str):
        """Closed loop, one client: land one batch, wait for its commit.
        Returns (cycle_s, latency_s); latency runs landed -> committed."""
        t0 = time.perf_counter()
        self.land(pdf)
        t1 = time.perf_counter()
        try:
            self.process()
        except Exception:  # noqa: BLE001 - every raise is a failed operation
            traceback.print_exc()
            self.ledger.record(False, f"{what}: query raised")
            return time.perf_counter() - t0, time.perf_counter() - t1
        t2 = time.perf_counter()
        log(f"{what}: {len(pdf)} pages, {t2 - t1:.2f} s")
        self.check(pdf, what)
        return t2 - t0, t2 - t1


def stream_setup(spark, seed: int, work: str, ledger: Ledger):
    """Generate the corpus and stamp the initial table. Returns (corpus,
    stream, micro-batches, set-up seconds with the corpus generation
    counted once, at the median of its repetitions)."""
    from corpus import WORKLOADS, make_corpus, recrawl_split

    corpus, data_s = repeated_setup(lambda i: make_corpus("recrawl_stream", seed))
    initial, batches = recrawl_split(corpus.pages, WORKLOADS["recrawl_stream"])
    stream = Stream(spark, work, ledger)
    t0 = time.time()
    stream.cycle(initial, "initial table")
    return corpus, stream, batches, data_s + (time.time() - t0)


def run_stream(spark, jvm_pid, seed, seconds, work, ledger, t_start):
    """Every micro-batch left after the initial table is timed, so each
    run times the same batches whatever the host's speed; `seconds` is
    a floor they exceed on any host this benchmark was sized on."""
    from corpus import pairwise_f1
    from probes import Window, peak_rss_mb, summarize

    t_data = time.time()
    corpus, stream, batches, rest_s = stream_setup(spark, seed, work, ledger)
    setup_s = (t_data - t_start) + rest_s
    cycles, lat, rates = [], [], []
    win = Window()
    deadline = time.perf_counter() + seconds
    while batches:
        pdf = batches.pop(0)
        c, latency = stream.cycle(pdf, f"timed batch {len(lat) + 1}")
        cycles.append(c)
        lat.append(latency)
        rates.append(len(pdf) / latency)
    w = win.close()
    if time.perf_counter() < deadline:
        log(f"the {len(lat)} micro-batches took {w['window_s']:.1f} s, under --seconds {seconds}")
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(cycles),
        "pages_per_s": statistics.median(rates),
        "batch_latency_s": statistics.median(lat),
        "cpu_s": w["cpu_s"] / len(lat),
        "peak_rss_mb": peak_rss_mb(jvm_pid),
        # F1 over every url fed: a fixed set for a given seed
        "pairwise_f1": pairwise_f1(corpus.labels, stream.ids),
    }, {"latency": summarize(lat), "cycle": summarize(cycles), **w}


# -- traced runs ------------------------------------------------------------------------

ER_LAYERS = ("featurize", "block", "pairs", "prepass", "score", "cc", "stamp")
KERNEL_MAX_PAIRS = 200_000


def staged_er(pipe, pages, tracer) -> dict:
    """pages -> entities through each stage's public call, one span per
    call, each result materialized before the next stage starts."""
    from entity_resolution_spark.operators.connected_components import connected_components
    from entity_resolution_spark.operators.pairs import candidate_pairs
    from entity_resolution_spark.operators.scoring import (
        deterministic_match_pass,
        edges_from_scores,
        resolve_broadcast,
    )
    from entity_resolution_spark.operators.stamping import stamp_entities

    cfg = pipe.config.scoring
    f: dict = {}
    with tracer.span("featurize"):
        f["feats"] = pipe.featurize(pages).localCheckpoint(eager=True)
    with tracer.span("block"):
        blocks, f["stats"] = pipe.block(f["feats"])
        f["blocks"] = blocks.localCheckpoint(eager=True)
    with tracer.span("pairs"):
        f["pairs"] = candidate_pairs(f["blocks"]).localCheckpoint(eager=True)
    with tracer.span("prepass"):
        f["det"], f["rem"] = deterministic_match_pass(
            f["pairs"], f["feats"],
            broadcast=resolve_broadcast(cfg, f["feats"], ["fingerprint"]),
        )
    with tracer.span("score"):
        f["scored"] = pipe.score(f["rem"], f["feats"]).localCheckpoint(eager=True)
        f["edges"] = (
            edges_from_scores(f["scored"], cfg.threshold)
            .unionByName(f["det"])
            .localCheckpoint(eager=True)
        )
    with tracer.span("cc"):
        f["comps"] = connected_components(f["edges"]).localCheckpoint(eager=True)
    with tracer.span("stamp"):
        f["ents"] = stamp_entities(
            f["feats"].select("url", "url_id", "warc_ts"), f["comps"]
        ).localCheckpoint(eager=True)
    return f


def stage_counts(f: dict, n_pages: int, pipe, tracer) -> dict:
    """Rows and ratios at each stage boundary, then the JW kernel timed
    in-process on the run's own phase-2 title pairs."""
    from pyspark.sql import functions as F

    from entity_resolution_spark.functions.similarity import jaro_winkler
    from entity_resolution_spark.operators.scoring import edges_from_scores

    cfg = pipe.config.scoring
    c: dict[str, float] = {}
    with tracer.span("counts"):
        c["featurize.rows"] = f["feats"].count()
        c["block.rows"] = f["blocks"].count()
        status = {r["status"]: r["count"] for r in f["stats"].groupBy("status").count().collect()}
        c["block.keys_kept"] = status.get("kept", 0)
        c["block.keys_dropped_hot"] = status.get("dropped_hot", 0)
        c["block.max_key_members"] = (
            f["blocks"].groupBy("block_key").count().agg(F.max("count")).first()[0] or 0
        )
        c["pairs.rows"] = f["pairs"].count()
        c["pairs.per_page"] = c["pairs.rows"] / n_pages
        c["prepass.edges"] = f["det"].count()
        c["score.rows_in"] = f["rem"].count()
        # the phase-1 gate of score_pairs_two_phase: who reaches phase 2
        phase2 = f["scored"].filter(~F.col("exact_dup") & (F.col("jaccard_est") >= cfg.gate_est))
        c["score.phase2_pairs"] = phase2.count()
        c["score.phase2_ratio"] = c["score.phase2_pairs"] / max(c["score.rows_in"], 1)
        c["score.edges"] = edges_from_scores(f["scored"], cfg.threshold).count()
        c["score.edge_yield"] = c["score.edges"] / max(c["score.phase2_pairs"], 1)
        c["cc.edges_in"] = f["edges"].count()
        comp = f["comps"].groupBy("component").count().agg(F.count("*"), F.max("count")).first()
        c["cc.components"] = comp[0]
        c["cc.max_component"] = comp[1] or 0
        c["stamp.entities"] = f["ents"].select("entity_id").distinct().count()
        titles = f["feats"].select("url_id", "norm_title")
        pdf = (
            phase2.select("id_1", "id_2")
            .join(titles.toDF("id_1", "a"), "id_1")
            .join(titles.toDF("id_2", "b"), "id_2")
            .select("a", "b")
            .limit(KERNEL_MAX_PAIRS)
            .toPandas()
        )
    with tracer.span("kernel"):
        jaro_winkler.func(pdf["a"], pdf["b"])
    c["kernel.s"] = tracer.duration("kernel")
    c["kernel.jw.pairs"] = len(pdf)
    c["kernel.jw.us_per_pair"] = tracer.duration("kernel") / len(pdf) * 1e6 if len(pdf) else 0.0
    return c


def trace_metrics(tracer, root: str, untraced_s: float, steal: float) -> dict:
    tracer.self_times()
    top = next(s for s in tracer.spans if s["name"] == root)
    return {
        "trace.overhead_s": (top["end"] - top["start"]) - untraced_s,
        "trace.uncovered_s": top["self_s"],
        "host.steal_cores": steal,
    }


def traced_batch(spark, workload, seed, work, ledger, tracer):
    from corpus import pairwise_f1
    from probes import SparkRest, Window

    corpus, pages, pipe, _ = batch_setup(spark, workload, seed, work, ledger)
    # the untraced pass stands where the measured run's first timed
    # pass does (after the warm-up); the traced pass comes next
    untraced, _ = checked_pass(pipe, pages, corpus, ledger, "untraced pass")
    win = Window()
    with tracer.span("pipeline"):
        f = staged_er(pipe, pages, tracer)
    w = win.close()
    rows = f["ents"].select("url", "entity_id").collect()
    f1 = pairwise_f1(corpus.labels, {r["url"]: r["entity_id"] for r in rows})
    ledger.record(
        entity_map_ok(rows, set(corpus.pages["url"])) and f1 >= F1_GATE,
        f"traced output: {len(rows)} rows, F1 {f1:.4f}",
    )
    m = {f"{layer}.s": tracer.duration(layer) for layer in ER_LAYERS}
    m.update(stage_counts(f, len(corpus.pages), pipe, tracer))
    m.update(SparkRest(spark).engine_metrics({k: tracer.groups[k] for k in ER_LAYERS}))
    m.update(trace_metrics(tracer, "pipeline", untraced, w["steal_cores"]))
    return m, {"untraced": untraced, **w}


def traced_stream(spark, seed, work, ledger, tracer):
    """After the initial table: one batch through start_incremental_er
    (the stream layer, and the untraced latency sample, where the
    measured run's first timed batch stands), then the next
    batch replayed as process_batch performs it: stages, pruned read
    and merge, bucketed dynamic-overwrite write."""
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.incremental import merge_entities
    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline
    from entity_resolution_spark.streaming.incremental_er import BUCKET_COL, _touched_buckets
    from probes import SparkRest, Window

    _, stream, batches, _ = stream_setup(spark, seed, work, ledger)
    m: dict[str, float] = {}

    pdf = batches.pop(0)
    stream.land(pdf)
    with tracer.span("stream"):
        q = stream.process()
    stream.check(pdf, "stream batch")
    prog = [p for p in q.recentProgress if p.numInputRows > 0][-1].durationMs
    m["stream.s"] = tracer.duration("stream")
    m["stream.add_batch_ms"] = prog["addBatch"]
    m["stream.latest_offset_ms"] = prog["latestOffset"]
    m["stream.commit_ms"] = prog["commitOffsets"]

    pdf = batches.pop(0)
    side = os.path.join(work, "replay")
    write_pages(pdf, side)
    pages = spark.read.parquet(side)
    pipe = EntityResolutionPipeline()
    win = Window()
    with tracer.span("micro_batch"):
        f = staged_er(pipe, pages, tracer)
        with tracer.span("merge"):
            stamped = f["ents"].withColumn(
                BUCKET_COL, F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
            ).localCheckpoint(eager=True)
            touched = _touched_buckets(stamped, N_BUCKETS)
            existing = spark.read.parquet(stream.table).filter(F.col(BUCKET_COL).isin(touched))
            merged = merge_entities(existing, stamped).localCheckpoint(eager=True)
        with tracer.span("sink"):
            (
                merged.write.partitionBy(BUCKET_COL)
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(stream.table)
            )
    w = win.close()
    refed = len(set(pdf["url"]) & set(stream.ids))  # batch urls already stamped
    stream.check(pdf, "traced replay batch")
    for layer in ER_LAYERS + ("merge", "sink"):
        m[f"{layer}.s"] = tracer.duration(layer)
    m.update(stage_counts(f, len(pdf), pipe, tracer))
    # merged = pruned existing slice + the batch rows it did not hold
    m["merge.existing_rows"] = merged.count() - stamped.count() + refed
    m["merge.adopted"] = (
        stamped.join(merged.select("url", F.col("entity_id").alias("_m")), "url")
        .filter(F.col("entity_id") != F.col("_m"))
        .count()
    )
    m["sink.buckets_touched"] = len(touched)
    untraced = m["stream.s"]  # where the measured run's timed batch stands
    engine = SparkRest(spark).engine_metrics(
        {k: tracer.groups[k] for k in ER_LAYERS + ("merge", "sink")}
    )
    m.update(engine)
    m["sink.mb_written"] = engine["sink.output_mb"]
    m.update(trace_metrics(tracer, "micro_batch", untraced, w["steal_cores"]))
    return m, {"untraced": untraced, **w}

"""The benchmark's workloads.

Each workload is closed-loop (every step waits for the one before),
takes its inputs from the seed, times only the work it names, and
checks every output against an oracle outside the timed region.
A workload returns a ``Run``: the number of operations, end-to-end
values, layer values and the list of failed checks.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

from layers import Tracer, instrument_crawl

# crawl-polite: 10 generated pages (~20 fetches) crawl in 3 BFS-level
# batches for most seeds (4 for some) at the engine's default
# politeness window.  Its cap of 64 URLs per host per batch never binds
# at this size: a corpus where it binds on every seed (300 pages)
# takes 7 batches, which with JVM start and warm-up runs past the
# per-run time the benchmark's run count allows.  Batch 1 warms the
# JVM and the Python workers; batch 2 runs on the first engine, the
# rest on a new engine resumed from the same state dir.  Every batch
# is dominated by per-batch fixed cost.
CRAWL_PAGES = 10
RESUME_AFTER_BATCH = 2
# index-search: page texts indexed, then a seeded query list.  At most
# 1,000 docs keeps search()'s per-term top-1,000 cut inactive, so the
# top-10 oracle below needs no tie rule for the cut.
INDEX_PAGES = 150
# queries run in whole cycles of the 6 query shapes until the run's
# --seconds are used, and at least MIN_QUERIES (one of each shape)
QUERY_CYCLE = 6
MIN_QUERIES = 6
SETUP_PASSES = 3
# catalog: queries.py rows over seeded documents/embeddings tables in
# the shape of the repository's test data (the index's page texts cut
# to at most CATALOG_CHARS, 20 sources; clustered unit vectors).  One
# row per operators/ module the crawl and the index never reach, plus
# the url-hash row.  Each row names an operator its executed plan must
# keep, so a plan that skips the defining work (as ``.count()`` can)
# fails the run.
CATALOG = {
    "p2_url_hash": "sha2(",  # url hash (functions.urlnorm)
    "fp_winnowing": "array_min(",  # window minima (operators.dedup)
    "sk_cms_word_counts": "pmod(",  # count-min cells (operators.sketches)
    "quality_linear_weighted_scores": "avg(",  # mean token weight (operators.quality)
    "ann_lsh_top20": "bit_count(",  # sign-bucket distance (operators.similarity)
}
CATALOG_CHARS = 600
CATALOG_SOURCES = 20
CATALOG_VECS, CATALOG_DIM, CATALOG_CLUSTERS = 500, 64, 10

REPORT_FNS = ("unique_pages", "longest_page", "top_50_words", "ics_subdomains")


@dataclass
class Run:
    attempted: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    # for the event-log rollup: the measured operations' names (the
    # ``<op>`` of job descriptions) and the measured batches' records
    ops: set = field(default_factory=set)
    batches: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


def noop(df) -> None:
    """Materialize every row and column of ``df`` (no driver transfer)."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _log(**phases) -> None:
    """Phase timings to stderr, for whoever watches a run."""
    print("perfbench:", json.dumps(phases), file=sys.stderr)


def _wall_since(tracer: Tracer, before: dict) -> dict:
    tracer.switch(tracer.layer)  # flush the running interval
    return {k: v - before.get(k, 0.0) for k, v in tracer.wall.items()}


# ---------------------------------------------------------------- crawl


def crawl_polite(spark, tracer: Tracer, cpu, seed: int, run_dir: str, session_s: float) -> Run:
    from spacetime_crawler4py_spark.analytics import report as R
    from spacetime_crawler4py_spark.crawl.loop import CrawlEngine
    from spacetime_crawler4py_spark.crawl.oracle import OracleCrawler, corpus_to_dicts
    from spacetime_crawler4py_spark.datagen.pages import SEED_URLS, generate_corpus
    from spacetime_crawler4py_spark.frontier.scheduler import per_host_cap

    run = Run()
    instrument_crawl(tracer, run.batches)
    corpus = os.path.join(run_dir, f"corpus-p{CRAWL_PAGES}-s{seed}")
    state = os.path.join(run_dir, "state")

    def engine(state_dir):
        return CrawlEngine(
            spark,
            state_dir=state_dir,
            pages_path=f"{corpus}/pages.parquet",
            status_path=f"{corpus}/fetch_status.parquet",
            seeds=SEED_URLS,
        )

    # ---- set-up: corpus, page-store cache (several passes), warm-up
    tracer.set_op("setup")
    t0 = time.perf_counter()
    corpus_rows = generate_corpus(CRAWL_PAGES, seed)
    _write_crawl_corpus(corpus, corpus_rows, spark.sparkContext.defaultParallelism)
    corpus_s = time.perf_counter() - t0
    init_s = []
    for k in range(SETUP_PASSES):
        eng, dt = _timed(engine, state if k == SETUP_PASSES - 1 else f"{state}-{k}")
        init_s.append(dt)
        if k < SETUP_PASSES - 1:
            eng.page_store.unpersist()
    _, warmup_s = _timed(eng.run, max_batches=1)
    setup_s = session_s + corpus_s + statistics.median(init_s) + warmup_s
    _log(session=session_s, corpus=corpus_s, init=init_s, warmup=warmup_s)

    # ---- measured: batches 2..RESUME_AFTER_BATCH, drop, resume, drain
    n_warm = len(run.batches)
    wall0 = dict(tracer.wall)
    cpu0 = cpu()
    t0 = time.perf_counter()
    eng.run(max_batches=RESUME_AFTER_BATCH - eng.store.last_batch_id())
    eng.page_store.unpersist()
    del eng
    tracer.set_op("resume")
    tr = time.perf_counter()
    eng = engine(state)
    tracer.set_op("")
    eng.run(max_batches=1)
    t_resumed = time.perf_counter()
    resume_s = t_resumed - tr
    eng.run()
    crawl_s = time.perf_counter() - t0

    # the reports are small: collecting them materializes them in full
    # and hands the checks below the rows that were timed
    crawled = eng.crawled_pages()
    reports, report_s = {}, {}
    tracer.set_op("report")
    for name in REPORT_FNS:
        fn = tracer.scoped(f"analytics.report.{name}", lambda f=getattr(R, name): f(crawled).collect())
        reports[name], report_s[name] = _timed(fn)
    tracer.set_op("")
    # the same steps on every seed: batch 2, the resume and its first
    # batch, the reports; the drain's batch count depends on the seed's
    # link graph, so its batches count in op_p50_ms only
    work_s = t_resumed - t0 + sum(report_s.values())
    work_cpu_s = cpu() - cpu0
    _log(crawl=crawl_s, resume=resume_s, report=report_s, batches=[b["wall_s"] for b in run.batches])
    wall = _wall_since(tracer, wall0)

    fetched_all = sum(b["n_batch"] for b in run.batches)
    measured = [b for b in run.batches[n_warm:] if b["n_batch"] > 0]
    run.batches = measured
    run.ops = {f"b{b['batch_id']}" for b in measured} | {"resume", "report"}
    fetched = sum(b["n_batch"] for b in measured)
    run.attempted = len(run.batches) + len(REPORT_FNS)
    run.e2e = {
        "setup_s": setup_s,
        "work_s": work_s,
        "op_p50_ms": 1000 * statistics.median(b["wall_s"] for b in measured),
    }

    # ---- correctness (untimed): engine vs the single-threaded oracle
    oracle = OracleCrawler(*corpus_to_dicts(corpus_rows)).run()
    order = eng.crawl_order()
    run.check(len(oracle.crawl_order) > 0, "oracle crawl is empty")
    run.check(eng.seen_set() == set(oracle.seen), "seen set differs from the oracle's")
    run.check(sorted(order) == sorted(oracle.crawl_order), "crawl-order multiset differs from the oracle's")
    run.check(len(order) == len(oracle.crawl_order) == fetched_all, "fetch count differs from the oracle's")
    # politeness: no batch schedules more than the cap on any host
    cap = per_host_cap(eng.window_ms, eng.delay_ms)
    host_max = _max_scheduled_per_host(state)
    run.check(bool(host_max) and max(host_max.values()) <= cap, "a batch scheduled more than the per-host cap")
    got_pages = {r["url_defrag"] for r in reports["unique_pages"]}
    run.check(bool(got_pages) and got_pages == oracle.unique_pages, "unique pages differ")
    [(lp_url, lp_wc)] = oracle.longest_page.items()
    got_lp = [(r["url_defrag"], r["wc"]) for r in reports["longest_page"]]
    run.check(got_lp == [(lp_url, lp_wc)], "longest page differs")
    top = [(r["word"], r["count"]) for r in reports["top_50_words"]]
    expect = sorted(oracle.common_words.items(), key=lambda x: (-x[1], x[0]))[:50]
    run.check(bool(top) and top == expect, "top-50 words differ")
    subs = {r["url_defrag"]: r["n_links"] for r in reports["ics_subdomains"]}
    run.check(bool(subs) and subs == oracle.ics_subdomains, "ics subdomains differ")

    # ---- layer values (driver-side; the event log adds the rest)
    kept, candidates = crawled.selectExpr("count(*)", "coalesce(sum(n_unique_anchors), 0)").first()
    new = sum(b["n_new"] for b in measured)
    store_files, store_bytes = _tree_size(state, skip=("crawled_pages",))
    run.layer = {
        "cpu.work_s": work_cpu_s,
        "pages_per_s": fetched / crawl_s,
        "crawl.loop.init_s": wall.get("crawl.loop.init", 0.0),
        "crawl.loop.resume_s": resume_s,
        "crawl.loop.run_batch.s": wall.get("crawl.loop.run_batch", 0.0),
        "frontier.scheduler.s": wall.get("frontier.scheduler", 0.0),
        "operators.parse.s": wall.get("operators.parse", 0.0),
        "crawl.links.s": wall.get("crawl.links", 0.0),
        "frontier.bloom.build_s": wall.get("frontier.bloom.build", 0.0),
        "frontier.bloom.builds": sum(b["bloom_builds"] for b in measured),
        "operators.ids.s": wall.get("operators.ids", 0.0),
        "frontier.store.read_s": wall.get("frontier.store.read", 0.0),
        "frontier.store.write_s": wall.get("frontier.store.write", 0.0),
        "frontier.store.files": store_files,
        "frontier.store.bytes_written": store_bytes,
        "analytics.report.s": sum(report_s.values()),
        **{f"analytics.report.{k}_s": v for k, v in report_s.items()},
        "crawl.batches": len(measured),
        "crawl.fetches": fetched,
        "crawl.new_urls": new,
        "crawl.link_candidates": candidates,
        "crawl.new_per_candidate": new / candidates if candidates else 0.0,
        "crawl.crawled_pages": kept,
        "crawl.kept_per_fetched": kept / len(order) if order else 0.0,
    }
    return run


def _write_crawl_corpus(out_dir: str, corpus: dict, parts: int) -> None:
    """The files ``datagen.pages.write_corpus`` writes (same tables,
    schemas and file count at this size), written with pyarrow: a
    Spark write costs ~10 s of a run in a cold JVM, for input files
    that are not what the benchmark measures."""
    import pyarrow as pa

    from spacetime_crawler4py_spark.datagen import pages

    arrow = {
        "StringType": pa.string(),
        "BinaryType": pa.binary(),
        "IntegerType": pa.int32(),
        "TimestampType": pa.timestamp("us", tz="UTC"),
    }
    for name, schema in (
        ("pages", pages.PAGES_SCHEMA),
        ("fetch_status", pages.STATUS_SCHEMA),
        ("seeds", pages.SEEDS_SCHEMA),
    ):
        fields = [(f.name, arrow[type(f.dataType).__name__]) for f in schema.fields]
        columns = list(zip(*corpus[name])) or [[] for _ in fields]
        table = pa.table([pa.array(c, t) for c, (_, t) in zip(columns, fields)], schema=pa.schema(fields))
        _write_parts(table, os.path.join(out_dir, f"{name}.parquet"), parts)


def _max_scheduled_per_host(state_dir: str) -> dict[int, int]:
    """batch id -> most URLs one host had in that batch, from the
    store's lineage log."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(state_dir, "lineage"), columns=["batch_id", "n_scheduled"])
    out: dict[int, int] = {}
    for b, n in zip(t["batch_id"].to_pylist(), t["n_scheduled"].to_pylist()):
        out[b] = max(out.get(b, 0), n)
    return out


def _tree_size(root: str, skip: tuple = ()) -> tuple[int, int]:
    files = size = 0
    for top in os.listdir(root):
        if top in skip:
            continue
        for d, _, names in os.walk(os.path.join(root, top)):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# ---------------------------------------------------------------- index


def _queries(texts: list[str], seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` queries of frequent corpus words.  The seed picks the words;
    the shape cycles through 1, 2, 3 terms x and/or (QUERY_CYCLE), so
    every seed runs the same mix of plans."""
    from collections import Counter

    rng = random.Random(seed)
    freq = Counter(w for t in texts for w in re.findall(r"[a-z]{4,}", t.lower()))
    words = sorted(w for w, _ in freq.most_common(30))
    shapes = [(k, m) for k in (1, 2, 3) for m in ("and", "or")]
    return [
        (" ".join(rng.sample(words, k)), m)
        for k, m in (shapes[i % QUERY_CYCLE] for i in range(n))
    ]


def _expected_scores(tf, terms: list[str], mode: str) -> dict:
    """Score of every candidate doc, recomputed with pandas from the
    collected tf-idf table (the term rule of ``search()``)."""
    import pandas as pd

    per_term = [tf[tf["token"] == t].set_index("doc_id")["tfidf"] for t in terms]
    if mode == "and":
        common = set(per_term[0].index)
        for s in per_term[1:]:
            common &= set(s.index)
        scores = {d: sum((s[d] for s in per_term), 0.0) for d in common}
    else:
        scores = pd.concat(per_term).groupby(level=0).sum().to_dict()
    return scores


def _top_ok(rows, scores: dict, docs: dict, k: int = 10, tol: float = 1e-9) -> bool:
    """``rows`` is a valid top-k of ``scores``: right size, right
    scores and urls, non-increasing, and nothing left out scores
    higher than the last row kept (ties may be broken either way
    within ``tol``, since the sum order of OR scores is not fixed)."""
    if len(rows) != min(k, len(scores)) or not rows:
        return False
    got = [(r["doc_id"], r["score"], r["url"]) for r in rows]
    for d, s, u in got:
        if d not in scores or abs(s - scores[d]) > tol or docs.get(d) != u:
            return False
    if any(b[1] > a[1] + tol for a, b in zip(got, got[1:])):
        return False
    kept = {d for d, _, _ in got}
    rest = [s for d, s in scores.items() if d not in kept]
    return not rest or max(rest) <= got[-1][1] + tol


def _write_catalog_tables(out_dir: str, pages: list, seed: int) -> None:
    """``documents`` and ``embeddings`` parquet files (pyarrow, no Spark)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [p[3][:CATALOG_CHARS].rsplit(" ", 1)[0] for p in pages]
    docs = {
        "doc_id": list(range(len(pages))),
        "text": texts,
        "lang": [p[4] for p in pages],
        "source": [f"src{i % CATALOG_SOURCES}" for i in range(len(pages))],
        "n_chars": [len(t) for t in texts],
    }
    rng = np.random.default_rng(seed)
    label = rng.integers(0, CATALOG_CLUSTERS, CATALOG_VECS)
    centers = rng.normal(size=(CATALOG_CLUSTERS, CATALOG_DIM))
    vecs = centers[label] + 0.5 * rng.normal(size=(CATALOG_VECS, CATALOG_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    emb = {
        "vec_id": pa.array(range(CATALOG_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }
    os.makedirs(out_dir)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    pq.write_table(pa.table(docs, schema=schema), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table(emb), os.path.join(out_dir, "embeddings.parquet"))


def _cell(v) -> str:
    """Type-aware cell text; floats to 6 significant digits (the
    comparison rule of tools/check_oracles.py)."""
    import numbers

    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, numbers.Integral):
        return f"int:{v}"
    if isinstance(v, numbers.Real):
        return f"float:{float(v):.6g}"
    return str(v)


def _same_rows(got: list[dict], expect: list[dict]) -> bool:
    """Same columns, same non-empty multiset of rows."""
    if not got or not expect or sorted(got[0]) != sorted(expect[0]):
        return False
    cols = sorted(got[0])
    key = lambda rows: sorted(",".join(_cell(r[c]) for c in cols) for r in rows)  # noqa: E731
    return len(got) == len(expect) and key(got) == key(expect)


def _write_parts(table, path: str, parts: int) -> None:
    """``table`` as ``parts`` parquet files under ``path`` (pyarrow)."""
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def index_search(spark, tracer: Tracer, cpu, seed: int, run_dir: str, session_s: float, seconds: float) -> Run:
    import pyarrow as pa

    from spacetime_crawler4py_spark.datagen.pages import generate_corpus
    from spacetime_crawler4py_spark.indexing import postings as P
    from spacetime_crawler4py_spark.indexing.search import search, stem_query
    from spacetime_crawler4py_spark.queries import ORACLES, QUERIES

    run = Run()
    tracer.set_op("setup")
    (corpus, gen_s) = _timed(generate_corpus, INDEX_PAGES, seed)
    pages = corpus["pages"]
    docs_table = pa.table(
        {
            "doc_id": pa.array(range(len(pages)), pa.int64()),
            "url": [p[0] for p in pages],
            "text": [p[3] for p in pages],
        }
    )
    # one file per core, as a parallelized local collection would be
    parts = spark.sparkContext.defaultParallelism
    pass_s = []
    for k in range(SETUP_PASSES):
        path = os.path.join(run_dir, f"docs-p{INDEX_PAGES}-s{seed}-{k}")
        pass_s.append(_timed(_write_parts, docs_table, path, parts)[1])
    cat_dir = os.path.join(run_dir, f"catalog-p{INDEX_PAGES}-s{seed}")
    _, catalog_setup_s = _timed(_write_catalog_tables, cat_dir, pages, seed)
    t0 = time.perf_counter()
    warm = spark.read.parquet(path).limit(16).cache()
    warm_tf = P.tfidf(P.build_postings(warm), 16).cache()
    for q, m in _queries([p[3] for p in pages[:16]], seed, 2):
        search(warm_tf, warm, q, mode=m).collect()
    warm_tf.unpersist()
    warm.unpersist()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + gen_s + statistics.median(pass_s) + catalog_setup_s + warmup_s
    _log(session=session_s, gen=gen_s, docs=pass_s, catalog_tables=catalog_setup_s, warmup=warmup_s)

    # ---- measured: build the index, then the query loop
    wall0 = dict(tracer.wall)
    cpu0 = cpu()
    tracer.set_op("build")
    docs = spark.read.parquet(path)
    t0 = time.perf_counter()
    postings = P.build_postings(docs).cache()
    tracer.scoped("indexing.postings.build_postings", noop)(postings)
    t1 = time.perf_counter()
    tf = P.tfidf(postings, INDEX_PAGES).cache()
    tracer.scoped("indexing.postings.tfidf", noop)(tf)
    t2 = time.perf_counter()
    doc_index = docs.select("doc_id", "url").cache()
    noop(doc_index)
    build_s = time.perf_counter() - t0
    build_postings_s, tfidf_s = t1 - t0, t2 - t1
    n_postings = postings.count()
    postings.unpersist()

    queries = _queries([p[3] for p in pages], seed, MIN_QUERIES)
    lat, results = [], []
    timed_search = tracer.scoped("indexing.search", lambda q, m: search(tf, doc_index, q, mode=m).collect())
    tq = time.perf_counter()
    i = 0
    while i < MIN_QUERIES or i % QUERY_CYCLE or time.perf_counter() - tq < seconds:
        q, m = queries[i % len(queries)]
        tracer.set_op(f"q{i}")
        rows, dt = _timed(timed_search, q, m)
        lat.append(dt)
        results.append((q, m, rows))
        i += 1

    # ---- measured: the catalog rows, each run once in full (some
    # rows run jobs while building, e.g. fetching the query vector);
    # a row's first run in the process, so its plan compilation is
    # included
    def catalog_row(name):
        df = QUERIES[name](spark, cat_dir)
        return df, [r.asDict() for r in df.collect()]

    catalog, catalog_s = {}, {}
    for name in CATALOG:
        tracer.set_op(f"c-{name}")
        catalog[name], catalog_s[name] = _timed(tracer.scoped(f"catalog.{name}", catalog_row), name)
    tracer.set_op("")
    work_cpu_s = cpu() - cpu0
    _log(build_postings=build_postings_s, tfidf=tfidf_s, queries=len(lat), search=sum(lat), catalog=catalog_s)
    wall = _wall_since(tracer, wall0)
    run.ops = {"build"} | {f"q{j}" for j in range(i)} | {f"c-{n}" for n in CATALOG}
    run.attempted = 1 + len(lat) + len(CATALOG)

    run.e2e = {
        "setup_s": setup_s,
        "work_s": build_s + sum(lat[:MIN_QUERIES]) + sum(catalog_s.values()),
        "op_p50_ms": 1000 * statistics.median(lat),
    }

    # ---- correctness (untimed)
    tf_pd = tf.toPandas()
    docs_map = {k: p[0] for k, p in enumerate(pages)}
    run.check(len(tf_pd) > 0, "tf-idf table is empty")
    for q, m, rows in results:
        scores = _expected_scores(tf_pd, stem_query(q), m)
        run.check(_top_ok(rows, scores, docs_map), f"top-10 differs for {m} query {q!r}")
    tf.unpersist()
    doc_index.unpersist()
    import duckdb

    con = duckdb.connect(config={"threads": 1, "memory_limit": "1GB"})
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{cat_dir}/{table}.parquet'")
    for name, token in CATALOG.items():
        df, rows = catalog[name]
        plan = df._jdf.queryExecution().executedPlan().toString()
        run.check(token in plan, f"{name}: executed plan lost {token!r}")
        expect = con.execute(ORACLES[name]).fetchdf().to_dict("records")
        run.check(_same_rows(rows, expect), f"{name}: rows differ from the DuckDB twin (or are empty)")
    con.close()

    run.layer = {
        "cpu.work_s": work_cpu_s,
        "pages_per_s": INDEX_PAGES / build_s,
        "indexing.postings.build_postings.s": build_postings_s,
        "indexing.postings.tfidf.s": tfidf_s,
        "indexing.postings.build_postings.rows": n_postings,
        "indexing.postings.tfidf.rows": len(tf_pd),
        "indexing.search.s": wall.get("indexing.search", 0.0),
        "indexing.search.queries": len(lat),
        "catalog.s": sum(catalog_s.values()),
        **{f"catalog.{k}.s": v for k, v in catalog_s.items()},
    }
    return run

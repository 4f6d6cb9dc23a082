"""curate_corpus: batch runs of the corpus-curation queries, closed loop.

Each run resets the session caches (queries.pipeline.reset_session_caches)
and executes ALL_QUERIES["curation_funnel"] and ALL_QUERIES["dedup_keep_one"]
by collecting their rows, which computes every column like the noop sink
and also yields the answer the oracle checks. One operation = one query
call, from the builder call until its rows are collected; work_rate is
documents per run wall time.

The corpus is REPLICAS isomorphic copies of one seeded base corpus: copy
k renames every non-stopword token to a word of the same length that no
other copy uses, and offsets doc_id by k * DOC_ID_OFFSET. Stopwords are
shared but never adjacent, so every 3-token shingle holds a copy-specific
word and copies share no shingle. Token counts, token lengths, stopword
hits, exact-duplicate groups, shingle Jaccard and contamination overlap
are therefore identical inside each copy and empty across copies, so the
answer on the whole corpus is the base answer repeated per copy: the
funnel's counts times REPLICAS, the kept-document table with offset ids.
That lets the ORACLE_SQL twins run once in DuckDB on the base copy
(oracle c) while Spark works on REPLICAS times as many documents.
"""

from __future__ import annotations

import random
import shutil
import string
import threading
import time
from pathlib import Path

from perfbench.harness import SETUP_REPEATS, JobCounter, Outcome, median

QUERIES = ("curation_funnel", "dedup_keep_one")
BASE_DOCS = 250
REPLICAS = 20
DOC_ID_OFFSET = 1_000_000
VOCAB = 400
MIN_RUNS = 2
LANGS = ("en", "fr", "de", "es", "zh")

class Corpus:
    """The seeded base corpus as token-id sequences (negative ids are the
    quality gate's English stopwords) plus one vocabulary per copy."""

    def __init__(self, seed: int) -> None:
        from catalyst_spark.queries.pipeline import STOPWORDS

        r = random.Random(seed)
        stop = STOPWORDS["en"]
        taken = {w for ws in STOPWORDS.values() for w in ws}
        lengths = [r.randint(3, 9) for _ in range(VOCAB)]
        self.vocab = []
        for _ in range(REPLICAS):
            words = []
            for n in lengths:
                w = "".join(r.choice(string.ascii_lowercase) for _ in range(n))
                while w in taken:
                    w = "".join(r.choice(string.ascii_lowercase) for _ in range(n))
                taken.add(w)
                words.append(w)
            self.vocab.append(words)
        self.stop = stop
        weights = [1.0 / (i + 1) ** 0.8 for i in range(VOCAB)]
        n_stop = len(stop)

        def word():
            return r.choices(range(VOCAB), weights)[0]

        def fresh(n, stop_p=0.15):
            toks = []
            for _ in range(n):
                if toks and toks[-1] >= 0 and r.random() < stop_p:
                    toks.append(-1 - r.randrange(n_stop))
                else:
                    toks.append(word())
            return toks

        docs, src0 = [], []
        for i in range(BASE_DOCS):
            x = r.random()
            if i > 5 and x < 0.08:
                toks = list(docs[r.randrange(i)][0])                    # exact copy
            elif i > 5 and x < 0.20:
                toks = list(docs[r.randrange(i)][0])                    # near copy
                for _ in range(max(1, len(toks) // 16)):
                    toks[r.randrange(len(toks))] = word()
            elif src0 and x < 0.26:
                toks = fresh(r.randint(25, 90))                         # contaminated
                run_src = docs[r.choice(src0)][0]
                at = r.randrange(max(1, len(run_src) - 6))
                pos = r.randrange(len(toks))
                toks[pos:pos] = run_src[at:at + 6]
            elif x < 0.33:
                toks = fresh(r.randint(5, 15)) if r.random() < 0.5 else fresh(40, 0.0)
            else:
                toks = fresh(r.randint(25, 90))
            for j in range(1, len(toks)):  # no two stopwords in a row
                if toks[j] < 0 and toks[j - 1] < 0:
                    toks[j] = word()
            source = "src0" if (i < 3 or r.random() < 0.05) else f"src{r.randint(1, 19)}"
            if source == "src0":
                src0.append(i)
            docs.append((toks, r.choice(LANGS), source))
        self.docs = docs

    def text(self, k: int, toks) -> str:
        v = self.vocab[k]
        return " ".join(v[t] if t >= 0 else self.stop[-1 - t] for t in toks)

    def write(self, path: Path, replicas: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
        for k in range(replicas):
            for i, (toks, lang, source) in enumerate(self.docs):
                t = self.text(k, toks)
                rows["doc_id"].append(k * DOC_ID_OFFSET + i)
                rows["text"].append(t)
                rows["lang"].append(lang)
                rows["source"].append(source)
                rows["n_chars"].append(len(t))
        path.mkdir(parents=True)
        pq.write_table(pa.table(rows), path / "documents.parquet")


def _duckdb_answers(base_dir: Path, threads: int) -> dict:
    """ORACLE_SQL twins on the base copy, as _spark_answer shapes them."""
    import duckdb

    from catalyst_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute(f"SET temp_directory='{base_dir / 'duckdb-tmp'}'")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{base_dir / 'documents.parquet'}')")
        out = {}
        for key in QUERIES:
            cur = con.execute(ORACLE_SQL[key])
            cols = [d[0] for d in cur.description]
            out[key] = _spark_answer(key, [dict(zip(cols, row)) for row in cur.fetchall()])
    finally:
        con.close()
    return out


def _replicated(base: dict, replicas: int) -> dict:
    """The whole-corpus answer from the base copy's answer."""
    funnel = sorted((stage, name, n_docs * replicas, n_tokens * replicas)
                    for stage, name, n_docs, n_tokens in base["curation_funnel"])
    keep = sorted((doc_id + k * DOC_ID_OFFSET, lang, source, n_chars)
                  for doc_id, lang, source, n_chars in base["dedup_keep_one"]
                  for k in range(replicas))
    return {"curation_funnel": funnel, "dedup_keep_one": keep}


def _spark_answer(key: str, rows):
    if key == "curation_funnel":
        return sorted((r["stage"], r["stage_name"], r["n_docs"], r["n_tokens"]) for r in rows)
    return sorted((r["doc_id"], r["lang"], r["source"], r["n_chars"]) for r in rows)


class Curation:
    """The replicated corpus, the oracle's answer for it and checked cold
    runs of both queries. Set-up writes the corpus files SETUP_REPEATS
    times (median kept) and runs the DuckDB oracle on one thread while a
    Spark run on the base copy warms the session up (same plans, a tenth
    of the time)."""

    def __init__(self, run, out: Outcome) -> None:
        from catalyst_spark.queries import ALL_QUERIES
        from catalyst_spark.queries.pipeline import reset_session_caches

        self.run, self.out = run, out
        self.plans: list[float] = []
        self.query_s: list[float] = []
        gen_s = []
        for r in range(SETUP_REPEATS):
            t = time.perf_counter()
            corpus = Corpus(run.seed)
            sf_dir = run.work / f"corpus-{r}"
            corpus.write(sf_dir, REPLICAS)
            gen_s.append(time.perf_counter() - t)
            if r < SETUP_REPEATS - 1:
                shutil.rmtree(sf_dir)
        self.sf_dir = str(sf_dir)
        base_dir = run.work / "corpus-base"
        corpus.write(base_dir, 1)

        base: dict = {}
        oracle_error: list = []

        def oracle() -> None:
            try:
                base.update(_duckdb_answers(base_dir, run.cpus))
            except Exception as exc:  # reported below, on the workload thread
                oracle_error.append(exc)

        t = time.perf_counter()
        th = threading.Thread(target=oracle, name="duckdb-oracle")
        th.start()
        reset_session_caches(run.spark)
        warm = {key: ALL_QUERIES[key](run.spark, str(base_dir)).collect() for key in QUERIES}
        th.join()
        if oracle_error:
            raise oracle_error[0]
        out.attempted += len(QUERIES)
        for key in QUERIES:
            if _spark_answer(key, warm[key]) != base[key]:
                out.fail(1, f"warm-up {key}: rows differ from the DuckDB oracle")
        self.expected = _replicated(base, REPLICAS)
        self.setup_s = median(gen_s) + time.perf_counter() - t

    def run_once(self, tag: str) -> float | None:
        """Cold run: reset the session caches, build and execute both
        queries -> the wall time; the collected rows are checked after the
        clock stops."""
        from catalyst_spark.queries import ALL_QUERIES
        from catalyst_spark.queries.pipeline import reset_session_caches

        run, out, spark = self.run, self.out, self.run.spark
        reset_session_caches(spark)
        rows, plan, lat = {}, 0.0, []
        out.attempted += len(QUERIES)
        t0 = time.perf_counter()
        try:
            for key in QUERIES:
                with run.tracer.span(f"queries.{key}", op=tag):
                    tb = time.perf_counter()
                    df = ALL_QUERIES[key](spark, self.sf_dir)
                    plan += time.perf_counter() - tb
                    rows[key] = df.collect()
                    lat.append(time.perf_counter() - tb)
        except Exception as exc:  # the run's answers are lost
            out.fail(len(QUERIES), f"{tag} raised {exc!r}")
            return None
        wall = time.perf_counter() - t0
        self.plans.append(plan)
        self.query_s.extend(lat)
        for key in QUERIES:
            if _spark_answer(key, rows[key]) != self.expected[key]:
                out.fail(1, f"{tag} {key}: {len(rows[key])} rows differ from the DuckDB oracle")
        return wall


def curate_corpus(run) -> Outcome:
    out = Outcome()
    cur = Curation(run, out)
    out.e2e["setup_s"] = run.engine.start_s + cur.setup_s
    docs = BASE_DOCS * REPLICAS

    run.tracer.on = False
    walls = _runs(run, cur.run_once, "run", run.seconds, MIN_RUNS)
    out.e2e["work_rate"] = docs / median(walls)
    out.named["query_lat_p50_ms"] = (median(cur.query_s) * 1000, "ms")
    out.named["curate_docs_per_s"] = (docs / median(walls), "docs/s")
    out.named["runs"] = (len(walls), "count")
    out.named["documents"] = (docs, "count")
    if run.trace:
        run.tracer.on = True
        traced, jobs = trace_queries(run, out, cur, run.seconds, MIN_RUNS)
        out.layers.update(jobs.metrics())
        out.layers["trace.overhead_frac"] = median(traced) / median(walls) - 1
    return out


def trace_queries(run, out, cur: Curation, seconds: float, min_runs: int):
    """Traced cold runs for the queries.* layer metrics -> (their wall
    times, their JobCounter)."""
    jobs = JobCounter(run.engine.sc)
    del cur.plans[:]

    def traced_run(tag):
        with jobs.op(tag):
            return cur.run_once(tag)

    walls = _runs(run, traced_run, "traced", seconds, min_runs)
    for key in QUERIES:
        out.layers[f"queries.{key}_s"] = median(run.tracer.durations(f"queries.{key}"))
    out.layers["queries.plan_ms"] = median(cur.plans) * 1000
    return walls, jobs


def _runs(run, one_run, prefix: str, seconds: float, min_runs: int) -> list[float]:
    """Closed loop of runs for `seconds` (at least `min_runs`) -> the
    wall time of each run that completed."""
    walls, n = [], 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or n < min_runs:
        wall = one_run(f"{prefix}-{n}")
        n += 1
        if wall is not None:
            walls.append(wall)
    if not walls:
        raise RuntimeError("every curate_corpus run failed")
    return walls

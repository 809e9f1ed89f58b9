"""The benchmark's workloads: seeded inputs, one op, and output checks.

Each workload calls the package's public pipeline functions the way a
user does. The run loop (run.py) calls, per workload:

    setup()        session is up; generate inputs, bootstrap, warm up
    prepare(i)     untimed: build op i's input frames
    op(i)          the timed call
    after_op(i)    untimed: per-op checks, and layer counters when traced
    check(n)       untimed, after the last op: returns the failed op ids
    space()        (bytes on disk, input bytes) for space_amp

`DIMS` on each class records the traffic dimensions and why they were
chosen; README.md repeats them.
"""

from __future__ import annotations

import os
import random

import gen

DOC_SCHEMA = "doc_id long, lang string, source string, text string"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def parquet_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


class Workload:
    name = ""
    items_per_op = 1
    # timed ops a run makes at least, whatever --seconds says
    min_ops = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.wd = work_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.traced = tracer.enabled
        # op id -> layer values the spans cannot see (counts, ratios)
        self.op_values: dict[int, dict] = {}
        self.setup_values: dict = {}

    def prepare(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass

    def check(self, n_ops: int) -> set[int]:
        return set()

    def op_input_bytes(self, i: int) -> int:
        """The bytes op i was given (for spark.write_amp)."""
        raise NotImplementedError


# ---------------------------------------------------------------- curate

def _tables(spark, wd: str) -> dict:
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    return {n: SnapshotTable(spark, os.path.join(wd, n))
            for n in ("landing", "curated")}


def _versions(tables: dict) -> dict:
    return {n: t.latest_version() for n, t in tables.items()}


def _rewritten_bytes(table_path: str, since: int | None, upto: int | None
                     ) -> int:
    """On-disk bytes of the files added by commits in (since, upto]
    that also removed files: the data those commits rewrote."""
    import json

    if upto is None:
        return 0
    total = 0
    start = -1 if since is None else since
    for v in range(start + 1, upto + 1):
        p = os.path.join(table_path, "_log", f"{v:08d}.json")
        try:
            with open(p) as fh:
                m = json.load(fh)
        except OSError:
            continue  # expired by maintenance
        if not m.get("removes"):
            continue
        for a in m.get("adds", []):
            try:
                total += os.path.getsize(
                    os.path.join(table_path, "data", a["path"]))
            except OSError:
                continue
    return total


def curation_counts(spark, wd: str) -> dict:
    sigs = os.path.join(wd, "minhash_sigs")
    return {
        "operators.sig_store.files": parquet_files(sigs),
        "operators.sig_store.bytes": dir_bytes(sigs),
        "sources.snapshot_table.files_live": sum(
            t.detail()["num_files"] for t in _tables(spark, wd).values()),
    }


def table_deltas(spark, wd: str, before: dict) -> dict:
    tables = _tables(spark, wd)
    after = _versions(tables)

    def v(x):
        return -1 if x is None else x

    return {
        "sources.snapshot_table.commits": sum(
            v(after[n]) - v(before[n]) for n in after),
        "sources.snapshot_table.bytes_rewritten": sum(
            _rewritten_bytes(t.path, before[n], after[n])
            for n, t in tables.items()),
    }


def curation_values(rep: dict, timings: dict) -> dict:
    vals = {f"plans.curation_pipeline.stage.{k}_s": t
            for k, t in timings.items()}
    vals["plans.curation_pipeline.survivor_frac"] = (
        rep["curated"] / rep["landed"])
    return vals


class IncrementalIngest(Workload):
    name = "incremental-ingest"
    DIMS = {
        "bootstrap_docs": (200, "set-up corpus landed by curate_batch: "
                           "gives the store and the frozen rates a base "
                           "and warms the JVM; its cost is mostly fixed"),
        "batch_docs": (500, "the ~500-doc increment the delta path is "
                       "sized for; its cost is mostly per-job fixed cost"),
        "exact_rate": (0.05, "cross-batch verbatim copies: must collide "
                       "in every band and be dropped"),
        "near_rate": (0.05, "cross-batch near copies that reach the "
                      "probe's candidate verify"),
        "edit_words": (2, "2 of 10..100 words replaced: Jaccard of "
                       "3-shingles stays high enough to match"),
        "maintain_every": (1, "maintain_curation after every batch, as a "
                           "scheduler between increments would; it only "
                           "compacts past 64 live files"),
    }

    def setup(self) -> None:
        from data_engineering_pipeline_spark.plans.curation_pipeline import (
            curate_batch,
        )

        d = self.DIMS
        self.boot = gen.docs(
            self.rng, 0, d["bootstrap_docs"][0], d["exact_rate"][0],
            d["near_rate"][0], d["edit_words"][0])
        # copy sources for later batches: every bootstrap doc that is
        # not itself a planted copy
        copies = {c for _, c in self.boot.exact + self.boot.near}
        self.originals = [(r[0], r[3]) for r in self.boot.rows
                          if r[0] not in copies]
        self.sent_ids = [r[0] for r in self.boot.rows]
        self.input_bytes = self.boot.text_bytes()
        self.next_id = len(self.boot.rows)
        self.batches: list = []
        self.items_per_op = d["batch_docs"][0]
        timings: dict | None = {} if self.traced else None
        with self.tracer.span("plans.curation_pipeline.curate_batch"):
            rep = curate_batch(
                self.spark,
                self.spark.createDataFrame(self.boot.rows, DOC_SCHEMA),
                self.wd, timings=timings)
        if rep["landed"] != len(self.boot.rows):
            raise RuntimeError(f"bootstrap landed {rep['landed']} of "
                               f"{len(self.boot.rows)} docs")
        self.setup_values = {
            f"plans.curation_pipeline.stage.{k}_s": v
            for k, v in (timings or {}).items()}

    def prepare(self, i: int) -> None:
        d = self.DIMS
        b = gen.docs(self.rng, self.next_id, d["batch_docs"][0],
                     d["exact_rate"][0], d["near_rate"][0],
                     d["edit_words"][0], originals=self.originals)
        self.next_id += len(b.rows)
        self.batches.append(b)
        self.frame = self.spark.createDataFrame(b.rows, DOC_SCHEMA)
        self.before = _versions(_tables(self.spark, self.wd))

    def op(self, i: int) -> None:
        from data_engineering_pipeline_spark.plans.curation_pipeline import (
            curate_increment,
            maintain_curation,
        )

        self.timings = {} if self.traced else None
        with self.tracer.span("plans.curation_pipeline.curate_increment"):
            self.rep = curate_increment(
                self.spark, self.frame, self.wd, batch_id=i + 1,
                mode="delta", timings=self.timings)
        if (i + 1) % self.DIMS["maintain_every"][0] == 0:
            with self.tracer.span(
                    "plans.curation_pipeline.maintain_curation"):
                maintain_curation(self.spark, self.wd)

    def after_op(self, i: int) -> None:
        b = self.batches[i]
        self.sent_ids.extend(r[0] for r in b.rows)
        self.input_bytes += b.text_bytes()
        # later batches copy from this one too (cross-batch copies)
        copies = {c for _, c in b.exact + b.near}
        self.originals.extend((r[0], r[3]) for r in b.rows
                              if r[0] not in copies)
        if self.traced:
            vals = curation_values(self.rep, self.timings)
            vals.update(table_deltas(self.spark, self.wd, self.before))
            vals.update(curation_counts(self.spark, self.wd))
            self.op_values[i] = vals

    def check(self, n_ops: int) -> set[int]:
        """Landing holds exactly the docs sent; planted cross-batch exact
        copies are absent from the curated table; replaying the last
        batch id changes no table version."""
        from data_engineering_pipeline_spark.plans.curation_pipeline import (
            curate_increment,
        )

        failed: set[int] = set()
        tables = _tables(self.spark, self.wd)
        landed = sorted(r.doc_id for r in tables["landing"].read()
                        .select("doc_id").collect())
        if landed != sorted(self.sent_ids):
            got = set(landed)
            for i, b in enumerate(self.batches[:n_ops]):
                if any(r[0] not in got for r in b.rows):
                    failed.add(i)
            if len(landed) != len(self.sent_ids) and not failed:
                failed.update(range(n_ops))
        curated = {r.doc_id for r in tables["curated"].read()
                   .select("doc_id").collect()}
        for i, b in enumerate(self.batches[:n_ops]):
            if any(c in curated for _, c in b.exact):
                failed.add(i)
        if n_ops:
            last = n_ops - 1
            before = _versions(tables)
            curate_increment(
                self.spark, self.spark.createDataFrame(
                    self.batches[last].rows, DOC_SCHEMA),
                self.wd, batch_id=last + 1, mode="delta")
            if _versions(tables) != before:
                failed.add(last)
        return failed

    def op_input_bytes(self, i: int) -> int:
        return self.batches[i].text_bytes()

    def space(self) -> tuple[int, int]:
        return dir_bytes(self.wd), self.input_bytes


class BulkCurate(Workload):
    name = "bulk-curate"
    DIMS = {
        "corpus_docs": (1000, "rebuild input; one op is ~60 s at "
                        "local[4] with the full funnel"),
        "exact_rate": (0.05, "verbatim copies inside the corpus"),
        "near_rate": (0.05, "near copies inside the corpus"),
        "edit_words": (2, "2 of 10..100 words replaced"),
        "eval_docs": (20, "decontamination eval set over a disjoint "
                      "vocabulary"),
        "contam_rate": (0.02, "docs carrying a 4-word eval passage "
                        "(2 eval shingles), dropped at max_hits=0"),
        "split_threshold": (0.45, "the tests' split threshold"),
        "ppl_gate": ((500_000, 250_000), "the tests' perplexity gate"),
    }

    def setup(self) -> None:
        d = self.DIMS
        self.evals = gen.eval_set(self.rng, d["eval_docs"][0])
        self.corpus = gen.docs(
            self.rng, 0, d["corpus_docs"][0], d["exact_rate"][0],
            d["near_rate"][0], d["edit_words"][0], evals=self.evals,
            contam_rate=d["contam_rate"][0])
        self.items_per_op = len(self.corpus.rows)
        self.frame = self.spark.createDataFrame(self.corpus.rows, DOC_SCHEMA)
        self.eval_frame = self.spark.createDataFrame(
            [(t,) for t in self.evals], "text string")
        self.reports: list = []
        self.ok: list[bool] = []
        self._op_dir = None
        self._curate(os.path.join(self.wd, "warmup"))  # JIT and caches

    def _curate(self, wd: str) -> dict:
        from data_engineering_pipeline_spark.plans.curation_pipeline import (
            curate_batch,
        )

        d = self.DIMS
        timings: dict | None = {} if self.traced else None
        with self.tracer.span("plans.curation_pipeline.curate_batch"):
            rep = curate_batch(
                self.spark, self.frame, wd,
                split_threshold=d["split_threshold"][0],
                ppl_gate=d["ppl_gate"][0],
                decontaminate=self.eval_frame, timings=timings)
        rep["timings"] = timings
        return rep

    def prepare(self, i: int) -> None:
        import shutil

        if self._op_dir is not None:  # keep only the latest op's output
            shutil.rmtree(self._op_dir, ignore_errors=True)
        self._op_dir = os.path.join(self.wd, f"op{i}")

    def op(self, i: int) -> None:
        self.reports.append(self._curate(self._op_dir))

    def after_op(self, i: int) -> None:
        """landed == docs sent; no planted exact copy survives beside
        its original; the shard export's rows equal the curated
        table's. Checked now: the next op removes this op's output."""
        rep = self.reports[i]
        curated = sorted(
            r.doc_id for r in _tables(self.spark, self._op_dir)["curated"]
            .read().select("doc_id").collect())
        cur = set(curated)
        shards = sorted(
            r.doc_id for r in self.spark.read.parquet(
                os.path.join(self._op_dir, "shards")).select("doc_id")
            .collect())
        self.ok.append(
            rep["landed"] == len(self.corpus.rows)
            and not any(o in cur and c in cur for o, c in self.corpus.exact)
            and shards == curated)
        if self.traced:
            vals = curation_values(rep, rep["timings"])
            vals.update(table_deltas(
                self.spark, self._op_dir,
                {"landing": None, "curated": None}))
            vals.update(curation_counts(self.spark, self._op_dir))
            self.op_values[i] = vals

    def check(self, n_ops: int) -> set[int]:
        return {i for i, ok in enumerate(self.ok[:n_ops]) if not ok}

    def op_input_bytes(self, i: int) -> int:
        return self.corpus.text_bytes()

    def space(self) -> tuple[int, int]:
        return dir_bytes(self._op_dir or self.wd), self.corpus.text_bytes()


# ---------------------------------------------------------------- search

class HybridSearch(Workload):
    name = "hybrid-search"
    DIMS = {
        "corpus_docs": (2000, "corpus landed in a SnapshotTable"),
        "land_appends": (4, "the corpus arrives as 4 appends ..."),
        "land_merges": (2, "... then 2 merges that revise 5% of texts "
                        "and insert new docs, so reads see a "
                        "multi-file, merged table"),
        "revise_share": (0.05, "share of docs a merge rewrites"),
        "insert_share": (0.02, "share of new docs a merge inserts"),
        "vectors": ("40% of docs", "sf0.1's embeddings/documents ratio"),
        "n_cells": (8, "IVF cells, as in the pipeline's parity test"),
        "n_probe": (2, "the production probe depth (n_probe < n_cells)"),
        "query_terms": ("2-3 distinct vocabulary words", "BM25 arm"),
        "query_vector": ("corpus vector + gaussian noise (0.05)",
                         "ANN arm near a real cluster"),
    }

    def setup(self) -> None:
        from data_engineering_pipeline_spark.plans.search_pipeline import (
            build_search_index,
        )
        from data_engineering_pipeline_spark.sources.snapshot_table import (
            SnapshotTable,
        )

        d = self.DIMS
        n = d["corpus_docs"][0]
        docs = gen.docs(self.rng, 0, n, 0.0, 0.0, 0)
        ids = [r[0] for r in docs.rows[: int(n * gen.EMB_SHARE)]]
        self.vecs = gen.embeddings(self.rng, ids)
        self.index = os.path.join(self.wd, "ann_index")
        with self.tracer.span("plans.search_pipeline.build_search_index"):
            build_search_index(
                self.spark,
                self.spark.createDataFrame(
                    self.vecs, "vec_id long, embedding array<float>"),
                self.index, n_cells=d["n_cells"][0])
        self.table = SnapshotTable(self.spark,
                                   os.path.join(self.wd, "corpus"))
        k = d["land_appends"][0]
        for c in range(k):
            self.table.append(
                self.spark.createDataFrame(docs.rows[c::k], DOC_SCHEMA))
        rows = {r[0]: r for r in docs.rows}
        next_id = n
        for _ in range(d["land_merges"][0]):
            upd = []
            for did in sorted(self.rng.sample(
                    sorted(rows), int(n * d["revise_share"][0]))):
                _, lang, src, text = rows[did]
                words = text.split()
                words[self.rng.randrange(len(words))] = self.rng.choice(
                    gen.VOCAB)
                upd.append((did, lang, src, " ".join(words)))
            new = gen.docs(self.rng, next_id,
                           int(n * d["insert_share"][0]), 0.0, 0.0, 0)
            next_id += len(new.rows)
            upd.extend(new.rows)
            self.table.merge_into(
                self.spark.createDataFrame(upd, DOC_SCHEMA), ["doc_id"],
                when_matched="update")
            for r in upd:
                rows[r[0]] = r
        self.texts = {did: r[3] for did, r in rows.items()}
        self.input_bytes = sum(len(t.encode()) for t in self.texts.values())
        self.queries = gen.queries(self.rng, self.vecs, 64)
        self.ok: list[bool] = []
        self._search(self.queries[-1])  # warm-up

    def _search(self, q) -> list:
        from data_engineering_pipeline_spark.plans.search_pipeline import (
            hybrid_search,
        )

        terms, qid, vec = q
        with self.tracer.span("plans.search_pipeline.hybrid_search"):
            return hybrid_search(
                self.spark, self.table.read(), self.index, terms,
                self.qframe(qid, vec),
                n_probe=self.DIMS["n_probe"][0]).collect()

    def qframe(self, qid: int, vec: list[float]):
        return self.spark.createDataFrame(
            [(qid, vec)], "query_id long, embedding array<float>")

    def op(self, i: int) -> None:
        self.out = self._search(self.queries[i % len(self.queries)])

    def after_op(self, i: int) -> None:
        ranks = [r["rank"] for r in self.out]
        self.ok.append(ranks == list(range(1, len(ranks) + 1))
                       and len(ranks) > 0)
        if self.traced:
            self.op_values[i] = {
                "sources.snapshot_table.files_live":
                    self.table.detail()["num_files"]}

    def check(self, n_ops: int) -> set[int]:
        """Each op returned ranks 1..k; one exhaustive query
        (n_probe == n_cells) equals the search-mmr-rerank oracle."""
        from data_engineering_pipeline_spark.plans.search_pipeline import (
            hybrid_search,
        )
        from data_engineering_pipeline_spark.queries.search import (
            QUERY_TERMS,
        )

        import oracles

        failed = {i for i, ok in enumerate(self.ok[:n_ops]) if not ok}
        q0 = next(v for i, v in self.vecs if i == 0)
        got = [
            (r["rank"], r["doc_id"], r["mmr_obj"])
            for r in hybrid_search(
                self.spark, self.table.read(), self.index, QUERY_TERMS,
                self.qframe(0, q0),
                n_probe=self.DIMS["n_cells"][0]).collect()
        ]
        if got != oracles.mmr_expected(self.texts, self.vecs):
            failed.update(range(n_ops))
        return failed

    def op_input_bytes(self, i: int) -> int:
        return self.input_bytes  # the corpus each query reads

    def space(self) -> tuple[int, int]:
        return dir_bytes(self.table.path), self.input_bytes


# ---------------------------------------------------------------- etl

class EtlPanel(Workload):
    name = "etl-panel"
    # an op is ~7 s and one op alone spread ~20% across seeds: the
    # median of three costs ~15 s more a run, which the time budget of
    # the benchmark allows (an incremental-ingest op, ~22 s, it does not)
    min_ops = 3
    DIMS = {
        "countries": (200, "synthetic ISO3 codes; ~8.2k records per "
                      "fetch, enough that the upserts shuffle"),
        "years": ("2000-2023", "the reference's DATE_RANGE"),
        "missing_rate": (gen.MISSING_RATE, "country-years absent on one "
                         "side: exercises the inner join"),
        "null_rate": (gen.NULL_RATE, "null values: gaps that make LAG "
                      "and the rolling mean row-based"),
        "malformed_rate": (gen.MALFORMED_RATE, "bad dates and empty iso3 "
                           "reach the quarantine"),
        "revise_share": (0.10, "each op is a re-fetch with 10% of values "
                         "revised, upserted over the previous layers"),
    }

    def setup(self) -> None:
        d = self.DIMS
        self.base = os.path.join(self.wd, "layers")
        self.results: list = []
        self.panel = gen.panel(self.rng, d["countries"][0])
        self.records = {ind: self.panel.records(ind)
                        for ind in gen.INDICATORS}
        self.items_per_op = sum(len(r) for r in self.records.values())
        # the first load: fills the layers the ops upsert over, and pays
        # the JVM's cold start (JIT, class loading) outside the timing
        self._run_pipelines(warm=True)

    def _run_pipelines(self, warm: bool = False):
        from data_engineering_pipeline_spark.plans.reference_pipelines import (
            ingest_pipeline,
            transform_pipeline,
        )

        import spans

        pipes = [ingest_pipeline(self.spark, ind, recs, self.base)
                 for ind, recs in self.records.items()]
        pipes.append(transform_pipeline(self.spark, self.base))
        for p in pipes:
            if self.traced and not warm:
                spans.trace_stages(self.tracer, p)
            p.run()

    def prepare(self, i: int) -> None:
        import oracles

        self.panel = gen.revise(self.rng, self.panel,
                                self.DIMS["revise_share"][0])
        self.records = {ind: self.panel.records(ind)
                        for ind in gen.INDICATORS}
        self.want = oracles.etl_expected(self.records)

    def op(self, i: int) -> None:
        self._run_pipelines()

    def after_op(self, i: int) -> None:
        import oracles

        got = oracles.etl_actual(os.path.join(self.base, "cleaned_data"))
        self.results.append(got == self.want)

    def check(self, n_ops: int) -> set[int]:
        """Each op: the cleaned layer equals the DuckDB reference
        transform over that op's generated raw records."""
        return {i for i, ok in enumerate(self.results[:n_ops]) if not ok}

    def op_input_bytes(self, i: int) -> int:
        return self.panel.input_bytes()

    def space(self) -> tuple[int, int]:
        return dir_bytes(self.base), self.panel.input_bytes()


WORKLOADS = {w.name: w for w in (BulkCurate, IncrementalIngest,
                                  HybridSearch, EtlPanel)}

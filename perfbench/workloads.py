"""The benchmark workloads.

Each workload writes its generated inputs to parquet in ``setup``, then
repeats one *op* (the write a user runs) followed by *reads* of what the op
wrote.  Every op and read checks its output; a failed check or an exception
counts as a failed attempt.  ``traced_op`` runs the same op layer by layer
(each layer forced from its persisted input, inside a tracer span) for the
per-layer report.

- ``kg_incremental``: closed loop, one client: commit the next delta
  through ``extract_triples_incremental``, republish the graph of the
  cumulative triples; reads are the SPARQL mix over the cumulative state.
- ``curate``: the registered ``q61_curation`` query (``curate_docs`` with
  its registered parameters), survivors written with ``write_stage``;
  reads fetch the survivors back.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from functools import partial

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from predicate_finder_spark import synth
from predicate_finder_spark.config import PipelineConfig
from predicate_finder_spark.functions.analysis import lang_hits, lang_id, quality_score
from predicate_finder_spark.functions.text import tokenize
from predicate_finder_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from predicate_finder_spark.operators.extract import extract_pages
from predicate_finder_spark.operators.linking import link_mentions, resolve_mentions
from predicate_finder_spark.operators.mentions import explode_sentences, generate_mentions
from predicate_finder_spark.operators.predicates import (
    candidate_predicates,
    enrich_ontology,
    pair_mentions,
    predicate_words,
)
from predicate_finder_spark.operators.query import parse_sparql, sparql_select
from predicate_finder_spark.operators.scoring import (
    build_idf,
    make_scorer_udf,
    score_candidates,
    to_triples,
    top1_per_pair,
)
from predicate_finder_spark.plans.incremental import (
    committed_batches,
    extract_triples_incremental,
    incremental_state,
)
from predicate_finder_spark.plans.pipeline import (
    build_scorer_dicts,
    materialize_graph,
)
from predicate_finder_spark.sources.tables import read_stage, write_stage

# page ids of seed s start at (s mod SEEDS) * SEED_STRIDE, so seeds never
# share a page
SEED_STRIDE = 1_000_000
SEEDS = 1_000_000
# q61_curation's registered parameters (__spark_entry__.q61_curation)
Q61 = {"min_quality": 0.5, "langs": ("en",), "near_dup_threshold": 0.8,
       "shingle_k": 3, "num_hashes": 16, "bands": 4}
PATH_HOPS = 4  # the bound of the mix's pred+ query


def _page_ids(spark, n_pages: int, seed: int):
    return spark.range(n_pages).select(
        (F.col("id") + (seed % SEEDS) * SEED_STRIDE).alias("page_id"))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _triples_digest(pdf: pd.DataFrame) -> str:
    """Order-independent digest of (url, subj, pred, obj, score)."""
    rows = sorted(
        f"{u}\t{s}\t{p}\t{o}\t{sc:.9g}"
        for u, s, p, o, sc in pdf[["url", "subj", "pred", "obj", "score"]].itertuples(
            index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _read(path: str) -> pd.DataFrame:
    """A written table, read without Spark (files named _* or .* skipped)."""
    return pq.read_table(path).to_pandas()


class _Inputs:
    """The KG workloads' dictionaries, read back from their parquet copies."""

    def __init__(self, spark, root: str) -> None:
        def rd(name):
            return spark.read.parquet(os.path.join(root, name))

        self.aliases = rd("aliases")
        self.kg = rd("kg_triples")
        self.ontology = rd("ontology")
        self.embeddings = rd("embeddings")


class Workload:
    """One workload: ``setup``, then ``op(k)``, ``check(k)`` and
    ``reads(k, rounds)`` per op, ``traced_op(tracer, k)`` for the per-layer
    run.  ``reads`` returns ``(round, shape, seconds, answer_ok)`` tuples."""

    name = ""
    pages = 0  # input pages per op (per commit for kg_incremental)
    warmup_ops = 1  # untimed ops before the window
    min_ops = 3  # timed ops per run, at least
    read_reps = 1  # rounds of reads after each timed op

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        os.makedirs(self.out, exist_ok=True)
        self.setup_phases: dict[str, float] = {}
        self.layer_extras: dict[str, float] = {}

    def _phase(self, name: str, t0: float) -> float:
        now = time.time()
        self.setup_phases[name] = round(now - t0, 3)
        return now

    def _traced_write(self, tracer, op_id: str, df, path: str, stage: str, ch: str):
        """``write_stage`` inside a ``tables.<stage>`` span."""
        with tracer.span(f"tables.{stage}", op_id):
            m = write_stage(df, path, stage, ch)
        files, size = _dir_bytes(path)
        tracer.add_rows("tables", m["rows"])
        self.layer_extras["tables.files_written"] = (
            self.layer_extras.get("tables.files_written", 0) + files)
        self.layer_extras["tables.bytes_written"] = (
            self.layer_extras.get("tables.bytes_written", 0) + size)


class KGIncremental(Workload):
    """Closed loop, one client.  Per op: commit the next delta through
    ``extract_triples_incremental``, then republish the graph of the
    cumulative triples (``materialize_graph`` + ``write_stage``, as
    ``bin/run_pipeline.py`` publishes it).  Reads: the SPARQL mix over the
    cumulative triples."""

    name = "kg_incremental"
    corpus_pages = 10_000
    deltas = 20  # each commit is 5% of the corpus
    pages = corpus_pages // deltas
    cfg = PipelineConfig()

    def setup(self) -> None:
        spark = self.spark
        t0 = time.time()
        rows = synth.sentence_rows(spark, self.corpus_pages,
                                   ids=_page_ids(spark, self.corpus_pages, self.seed))
        rows = rows.persist()
        # equal-size deltas, the order of pages keyed by the seed too
        order = Window.orderBy(F.xxhash64("url", F.lit(self.seed)), "url")
        split = synth.build_pages(rows).withColumn(
            "delta", ((F.row_number().over(order) - 1) % self.deltas).cast("int")).persist()
        split.write.partitionBy("delta").parquet(os.path.join(self.inputs, "pages"))
        synth.build_gold(rows).join(split.select("url", "delta"), "url").write.parquet(
            os.path.join(self.inputs, "gold_triples"))
        synth.build_kg(rows).write.parquet(os.path.join(self.inputs, "kg_triples"))
        synth.build_aliases(spark).write.parquet(os.path.join(self.inputs, "aliases"))
        synth.build_ontology(spark).write.parquet(os.path.join(self.inputs, "ontology"))
        synth.build_embeddings(spark).write.parquet(os.path.join(self.inputs, "embeddings"))
        rows.unpersist()
        split.unpersist()
        t0 = self._phase("generate_s", t0)
        self.d = _Inputs(spark, self.inputs)
        self.gold = _read(os.path.join(self.inputs, "gold_triples"))
        t0 = self._phase("gold_load_s", t0)
        idf_df = build_idf(explode_sentences(extract_pages(
            spark.read.parquet(os.path.join(self.inputs, "pages")))))
        self.dicts = build_scorer_dicts(idf_df, self.d.kg, self.d.ontology,
                                        self.d.embeddings, self.cfg)
        self._phase("dict_build_s", t0)
        self.layer_extras["scoring.dict_build_s"] = self.setup_phases["dict_build_s"]
        self.state = os.path.join(self.work, "state")
        shutil.rmtree(self.state, ignore_errors=True)
        self.committed: list[int] = []
        self.cum = None

    def _delta(self, k: int):
        if k >= self.deltas:
            raise RuntimeError(f"all {self.deltas} deltas are committed")
        return self.spark.read.parquet(os.path.join(self.inputs, "pages", f"delta={k}"))

    def _publish(self, vertices, edges, write) -> None:
        ch = self.cfg.config_hash()
        write(vertices, os.path.join(self.out, "vertices"), "vertices", ch)
        write(edges, os.path.join(self.out, "edges"), "edges", ch)

    def op(self, k: int) -> dict:
        d, sc = self.d, self.spark.sparkContext
        sc.setJobGroup(f"op{k}/commit", f"op{k} commit")
        self.cum = extract_triples_incremental(
            self.spark, self._delta(k), d.aliases, d.kg, d.ontology, d.embeddings,
            self.state, f"b{k:04d}", self.cfg, scorer_dicts=self.dicts,
        )
        self.spark.catalog.clearCache()
        sc.setJobGroup(f"op{k}/publish", f"op{k} publish")
        self._publish(*materialize_graph(self.cum), write_stage)
        self.committed.append(k)
        return {"pages": self.pages}

    def check(self, k: int) -> list[str]:
        key = ["url", "subj", "pred", "obj"]
        batch = _read(os.path.join(self.state, "batches", f"b{k:04d}", "triples"))
        gold = self.gold[self.gold["delta"].isin(self.committed)]
        errs = []
        got = set(batch[key].itertuples(index=False, name=None))
        want = set(gold[gold["delta"] == k][key].itertuples(index=False, name=None))
        if got != want:
            errs.append(f"batch {k}: P/R != 1 ({len(got & want)} hits, {len(got)} "
                        f"predicted, {len(want)} gold)")
        if k == self.warmup_ops:  # the first timed batch
            self.digest = _triples_digest(batch)
        ents = set(gold["subj"]) | set(gold["obj"])
        if set(_read(os.path.join(self.out, "vertices"))["id"]) != ents:
            errs.append("vertices != entities of the committed gold")
        edges = _read(os.path.join(self.out, "edges"))
        if set(edges[["src", "dst", "pred"]].itertuples(index=False, name=None)) != set(
                gold[["subj", "obj", "pred"]].itertuples(index=False, name=None)):
            errs.append("edges != (subj, obj, pred) of the committed gold")
        return errs

    def reads(self, k: int, reps: int, tracer=None, op_id: str = ""):
        gold = self.gold[self.gold["delta"].isin(self.committed)]
        out = []
        for r in range(reps):
            out += [(r, *read) for read in
                    self._sparql_reads(self.cum, gold, r, tracer, op_id)]
        return out

    def _query_mix(self, gold: pd.DataFrame, r: int) -> list[tuple[str, str, set]]:
        """Five query shapes, each with its expected answer.  Parameters are
        picked by frequency rank in the gold triples (mix ``r`` asks about
        the r-th most frequent subject), so their answer sizes are alike
        across seeds."""
        g = gold[["subj", "pred", "obj"]].drop_duplicates()

        def ranked(col: pd.Series) -> list[str]:
            n = col.value_counts()
            return sorted(n.index, key=lambda x: (-n[x], x))

        s = ranked(g["subj"])[r]
        mine = g[g["subj"] == s]
        p1 = ranked(mine["pred"])[0]
        preds = ranked(g["pred"])
        p2, p3 = preds[(1 + r) % len(preds)], preds[(2 + r) % len(preds)]
        by_pred = {p: d for p, d in g.groupby("pred")}
        empty = g.iloc[0:0]

        point = set(zip(mine["pred"], mine["obj"]))
        scan_p = by_pred[p2]
        scan = set(zip(scan_p["subj"], scan_p["obj"]))
        xs = mine[mine["pred"] == p1]["obj"]
        hop = by_pred.get(p2, empty)
        two_hop = set(zip(*[hop[hop["subj"].isin(set(xs))][c] for c in ("subj", "obj")]))
        objs = set(mine[mine["pred"].isin({p1, p2})]["obj"])
        opt = by_pred.get(p3, empty)
        union_optional = set()
        for o in objs:
            ws = opt[opt["subj"] == o]["obj"]
            union_optional |= {(o, w) for w in ws} if len(ws) else {(o, None)}
        adj: dict[str, set] = {}
        for a, b in zip(by_pred[p1]["subj"], by_pred[p1]["obj"]):
            adj.setdefault(a, set()).add(b)
        reach, frontier = set(), {s}
        for _ in range(PATH_HOPS):
            nxt = set().union(*[adj.get(x, set()) for x in frontier])
            frontier = nxt - reach
            reach |= nxt
            if not frontier:
                break
        return [
            ("point", f"SELECT DISTINCT ?p ?o WHERE {{ {s} ?p ?o }}", point),
            ("scan", f"SELECT DISTINCT ?s ?o WHERE {{ ?s {p2} ?o }}", scan),
            ("two_hop", f"SELECT DISTINCT ?x ?z WHERE {{ {s} {p1} ?x . ?x {p2} ?z }}",
             two_hop),
            ("union_optional",
             f"SELECT DISTINCT ?o ?w WHERE {{ {{ {s} {p1} ?o }} UNION {{ {s} {p2} ?o }} "
             f"OPTIONAL {{ ?o {p3} ?w }} }}", union_optional),
            ("path", f"SELECT DISTINCT ?y WHERE {{ {s} {p1}+ ?y }}", {(y,) for y in reach}),
        ]

    def _sparql_reads(self, triples, gold: pd.DataFrame, r: int, tracer=None,
                      op_id: str = "") -> list[tuple[str, float, bool]]:
        out = []
        for shape, q, expected in self._query_mix(gold, r):
            if tracer is None:
                t0 = time.time()
                got = _rows(sparql_select(triples, q, path_max_hops=PATH_HOPS))
                out.append((shape, time.time() - t0, got == expected))
                continue
            with tracer.span(f"query.{shape}", op_id):
                t0 = time.time()
                parse_sparql(q)
                t1 = time.time()
                got = _rows(sparql_select(triples, q, path_max_hops=PATH_HOPS))
                t2 = time.time()
            tracer.add_rows("query", len(got))
            self.layer_extras[f"query.parse_ms.{shape}"] = (t1 - t0) * 1e3
            self.layer_extras[f"query.exec_ms.{shape}"] = (t2 - t1) * 1e3
            out.append((shape, t2 - t0, got == expected))
        return out

    def _traced_chain(self, tracer, op_id: str, pages):
        """``extract_triples`` (no checkpoint dir) rebuilt layer by layer;
        returns the persisted triples frame."""
        d, cfg = self.d, self.cfg
        with tracer.span("extract", op_id):
            ext = extract_pages(pages).persist()
            tracer.add_rows("extract", ext.count())
        with tracer.span("mentions", op_id):
            sent = explode_sentences(ext, cfg.languages).persist()
            sent.count()
            ments = generate_mentions(sent, cfg.max_mention_ngram).persist()
            n_ments = ments.count()
            tracer.add_rows("mentions", n_ments)
        with tracer.span("linking", op_id):
            resolved = resolve_mentions(link_mentions(
                ments, d.aliases, min_prior=cfg.min_link_prior,
                broadcast_dict=True, top1_per_surface=True,
            )).persist()
            n_linked = resolved.count()
            tracer.add_rows("linking", n_linked)
        with tracer.span("predicates", op_id):
            pairs = pair_mentions(resolved, sent).persist()
            n_pairs = pairs.count()
            cands = predicate_words(enrich_ontology(candidate_predicates(
                pairs, d.kg, blacklist=cfg.predicate_blacklist,
                salt_buckets=cfg.salt_buckets if cfg.salted_join else 0,
                kg_prededuped=cfg.kg_prededuped,
            ), d.ontology)).persist()
            n_cands = cands.count()
            tracer.add_rows("predicates", n_cands)
        with tracer.span("scoring", op_id):
            idf_dict, emb_dict = self.dicts
            scorer = make_scorer_udf(self.spark, emb_dict, idf_dict,
                                     max_ngram=cfg.max_ngram, default_idf=cfg.default_idf)
            scored = score_candidates(cands, scorer).select(
                "url", "sent_id", "subj", "obj", "pred", "score", "rule").persist()
            n_scored = scored.count()
            triples = to_triples(top1_per_pair(scored)).persist()
            n_triples = triples.count()
            tracer.add_rows("scoring", n_triples)
        self.layer_extras.update({
            "linking.link_yield": n_linked / max(n_ments, 1),
            "predicates.cands_per_pair": n_cands / max(n_pairs, 1),
            "scoring.keep_ratio": n_triples / max(n_scored, 1),
        })
        return triples

    def traced_op(self, tracer, k: int) -> None:
        """Op k, layer by layer, with the commit protocol of
        ``extract_triples_incremental`` (tables first, then the batch
        marker)."""
        spark, d, op_id = self.spark, self.d, f"op{k}"
        batch_id = f"b{k:04d}"
        ch = self.cfg.config_hash()
        with tracer.span("incremental", op_id):
            t0 = time.time()
            _prior, seen = incremental_state(spark, self.state)
            self.layer_extras["incremental.state_read_s"] = time.time() - t0
            pages = self._delta(k)
            delta = (pages.join(seen.select("url"), "url", "left_anti")
                     if seen is not None else pages).persist()
            tracer.add_rows("incremental", delta.count())
        files, _size = _dir_bytes(os.path.join(self.state, "batches"))
        self.layer_extras["incremental.batches_visible"] = len(committed_batches(self.state))
        self.layer_extras["incremental.state_files"] = files
        tri = self._traced_chain(tracer, op_id, delta)
        batch_dir = os.path.join(self.state, "batches", batch_id)
        write = partial(self._traced_write, tracer, op_id)
        write(tri, os.path.join(batch_dir, "triples"), "inc_triples", ch)
        write(delta.select("url").distinct(), os.path.join(batch_dir, "urls"), "inc_urls", ch)
        with tracer.span("tables.marker", op_id):
            tmp = os.path.join(batch_dir, "_batch.json.tmp")
            with open(tmp, "w") as f:
                json.dump({"batch_id": batch_id, "config_hash": ch,
                           "committed_at": time.time()}, f)
            os.replace(tmp, os.path.join(batch_dir, "_batch.json"))
        spark.catalog.clearCache()
        self.cum, _ = incremental_state(spark, self.state)
        with tracer.span("graph", op_id):
            vertices, edges = materialize_graph(self.cum)
            vertices, edges = vertices.persist(), edges.persist()
            tracer.add_rows("graph", vertices.count() + edges.count())
        self._publish(vertices, edges, write)
        spark.catalog.clearCache()
        self.committed.append(k)


class Curate(Workload):
    """The registered ``q61_curation`` query over generated documents,
    survivors written with ``write_stage``; reads fetch the survivors back.
    The DuckDB oracle gives the expected survivors."""

    name = "curate"
    pages = 10_000
    # the curation plans keep JIT-compiling over the first ops
    warmup_ops = 2
    read_reps = 2  # 3 ops x 2 rounds x 3 reads = 18 reads

    def setup(self) -> None:
        spark = self.spark
        t0 = time.time()
        rows = synth.sentence_rows(spark, self.pages,
                                   ids=_page_ids(spark, self.pages, self.seed))
        # the registered query's documents table: (doc_id, text), text
        # punctuation-free like the `documents` test corpus the oracle's
        # space tokenizer is written for
        docs = synth.build_pages(rows).select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            F.trim(F.regexp_replace("text", r"[^A-Za-z0-9 ]+", "")).alias("text"),
        )
        os.makedirs(self.inputs, exist_ok=True)
        docs.coalesce(1).write.parquet(os.path.join(self.inputs, "documents.parquet"))
        self._phase("generate_s", t0)
        self.docs = spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))

    def oracle(self) -> float:
        """DuckDB runs the registered q61 oracle SQL on the same parquet."""
        import duckdb

        import __spark_entry__ as entry

        t0 = time.time()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.inputs, 'documents.parquet')}/*.parquet')")
            rows = con.sql(entry.oracle_sql()["q61_curation"]).fetchall()
        finally:
            con.close()
        self.expected = {(int(i), round(float(q), 6), lang) for i, q, lang in rows}
        return time.time() - t0

    def op(self, k: int) -> dict:
        import __spark_entry__ as entry

        self.spark.catalog.clearCache()
        kept = entry.q61_curation(self.spark, self.inputs)
        write_stage(kept, os.path.join(self.out, "curated"), "curated", "q61")
        self.spark.catalog.clearCache()
        return {"pages": self.pages}

    def check(self, k: int) -> list[str]:
        got = _read(os.path.join(self.out, "curated"))
        got = set(zip(got["doc_id"].astype(int), got["quality"].round(6), got["lang_pred"]))
        if got != self.expected:
            return [f"survivors: {len(got & self.expected)} of {len(got)} rows match the "
                    f"{len(self.expected)} oracle rows"]
        return []

    def reads(self, k: int, reps: int, tracer=None, op_id: str = ""):
        cur = read_stage(self.spark, os.path.join(self.out, "curated"))
        langs: dict[str, int] = {}
        for _i, _q, lang in self.expected:
            langs[lang] = langs.get(lang, 0) + 1

        def survivors(df):
            return {(int(i), round(float(q), 6), lg) for i, q, lg in
                    df.select("doc_id", "quality", "lang_pred").collect()}

        out = []
        for r in range(reps):
            pick = random.Random(self.seed * 100_003 + k * 100 + r).choice(
                sorted(self.expected))
            for shape, fn, expected in (
                ("survivors", lambda: survivors(cur), self.expected),
                ("lookup", lambda: survivors(cur.filter(F.col("doc_id") == pick[0])),
                 {pick}),
                ("lang_count", lambda: _rows(cur.groupBy("lang_pred").count()),
                 set(langs.items())),
            ):
                t0 = time.time()
                got = fn()
                out.append((r, shape, time.time() - t0, got == expected))
        return out

    def traced_op(self, tracer, k: int) -> None:
        """``curate_docs`` rebuilt as its gate, exact-dedup and MinHash-LSH
        steps, each persisted; the last step's survivors must equal the
        op's."""
        text, op_id = F.col("text"), f"op{k}"
        with tracer.span("analysis", op_id):
            gated = (
                self.docs.withColumn("__toks", F.transform(tokenize(text), F.lower))
                .withColumn("__hits", lang_hits(F.col("__toks")))
                .withColumn("quality", F.round(quality_score(text, tokens=F.col("__toks")), 6))
                .withColumn("lang_pred", lang_id(text, hits=F.col("__hits")))
                .filter((F.col("quality") >= Q61["min_quality"])
                        & F.col("lang_pred").isin(*Q61["langs"]))
                .drop("__toks", "__hits")
            ).persist()
            n_gated = gated.count()
            tracer.add_rows("analysis", n_gated)
        lsh = {name: Q61[name] for name in ("shingle_k", "num_hashes", "bands")}
        with tracer.span("dedup", op_id):
            kept = exact_dedup(gated, id_col="doc_id", text_col="text").persist()
            kept.count()
            pairs = minhash_lsh_pairs(kept, id_col="doc_id", text_col="text",
                                      verify_threshold=Q61["near_dup_threshold"], **lsh)
            pairs = pairs.persist()
            n_verified = pairs.count()
            survivors = kept.join(
                pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti",
            ).select("doc_id", "quality", "lang_pred").persist()
            tracer.add_rows("dedup", survivors.count())
        # the raw banding candidates are not part of the op: counted in a
        # span of their own, which is tracing overhead, not a layer
        with tracer.span("probe.lsh_candidates", op_id):
            n_cands = minhash_lsh_pairs(kept, id_col="doc_id", text_col="text",
                                        verify_threshold=None, **lsh).count()
        self._traced_write(tracer, op_id, survivors, os.path.join(self.out, "curated"),
                           "curated", "q61")
        self.spark.catalog.clearCache()
        self.layer_extras.update({
            "analysis.pass_ratio": n_gated / self.pages,
            "dedup.lsh_candidate_pairs": n_cands,
            "dedup.verified_pairs": n_verified,
            "dedup.verify_yield": n_verified / max(n_cands, 1),
        })


WORKLOADS = {w.name: w for w in (KGIncremental, Curate)}

"""The benchmark's two workloads.

Each workload generates its input tables from the seed during set-up,
runs one pass of the program per call to ``run_pass`` (the timed
part), and checks every pass's output against an independent
computation in ``check`` (untimed).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from typing import List, Optional

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from docling_core_spark.chunking.hybrid import hybrid_chunk
from docling_core_spark.chunking.tokenizer import RegexTokenizer
from docling_core_spark.corpus import gen_corpus, gen_doc_spans
from docling_core_spark.engine import CHUNKS_SCHEMA, _origin_struct
from docling_core_spark.io.checkpoint import read_output, run_resumable
from docling_core_spark.model.spans import doc_from_spans
from docling_core_spark.serializers.docjson import export_to_docjson_str
from docling_core_spark.sources.docjson import (
    docjson_to_spans,
    parse_and_chunk_docjson,
)
from docling_core_spark import textops
from docling_core_spark.textops import (
    dedup_retain_over,
    hygiene_over,
    pack_over,
)

MAX_TOKENS = 64
CHUNK_COLS = CHUNKS_SCHEMA.fieldNames()


class CountingTokenizer(RegexTokenizer):
    """RegexTokenizer that counts ``count_tokens`` calls. It keeps
    ``whitespace_separable``, so the hybrid chunker takes the same
    path as with the plain tokenizer."""

    __slots__ = ("calls",)

    def __init__(self, max_tokens: int) -> None:
        super().__init__(max_tokens)
        self.calls = 0

    def count_tokens(self, text: str) -> int:
        self.calls += 1
        return super().count_tokens(text)


def _span_tuples(spans) -> list:
    return [(s["kind"], s["text"], s["media_ref"], int(s["offset"]))
            for s in spans]


def _chunk_rows(doc_id: str, doc, chunks) -> List[tuple]:
    """Chunk rows in CHUNKS_SCHEMA column order, as the stage emits
    them."""
    org = _origin_struct(doc)
    return [(doc_id, i, c.text, c.headings, c.offsets, org)
            for i, c in enumerate(chunks)]


def _rows_of(table: pa.Table, cols: List[str]) -> List[tuple]:
    """Table -> sorted list of row tuples (lists kept as lists)."""
    data = [table.column(c).to_pylist() for c in cols]
    return sorted(zip(*data), key=lambda r: r[:2])


def _row_hash():
    """Per-row hash of a chunk row; summed, it is an order-insensitive
    digest that fits a long."""
    return F.pmod(F.xxhash64(*CHUNK_COLS), F.lit(2147483647))


def _wipe(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# Seed of the mega-docs. Their size (2,000-5,000 blocks) is drawn per
# doc and a handful of them carry a large share of the chunk work,
# so drawing them from the run's seed would make the workload's size,
# not the program, set the run-to-run spread. They stay at the same
# positions with the same content; every other doc follows the seed.
MEGA_SEED = 0


def _span_docs(n: int, seed: int, mega_every: int) -> pa.Table:
    """documents(doc_id, spans): the rows engine.synth_documents makes
    for this seed, generated in this process; mega-docs from
    MEGA_SEED."""
    rows = gen_corpus(n, seed=seed)
    for i in range(mega_every - 1, n, mega_every):
        rows[i]["spans"] = gen_doc_spans(i, seed=MEGA_SEED,
                                         mega_every=mega_every)
    return pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([("kind", pa.string()),
                                      ("text", pa.string()),
                                      ("media_ref", pa.string()),
                                      ("offset", pa.int32())])))]))


def _write_parts(path: str, table: pa.Table, nproc: int) -> None:
    """Write ``table`` as 2 x nproc parquet files of contiguous rows."""
    os.makedirs(path)
    n = 2 * nproc
    step = -(-table.num_rows // n)
    for k in range(n):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


class Ctx:
    """What every workload needs from the run."""

    def __init__(self, spark, seed: int, nproc: int, work: str,
                 spans) -> None:
        self.spark = spark
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.spans = spans
        self.tag = ""

    def describe(self, layer: str) -> None:
        """Job description for the calls into ``layer`` that follow;
        the traced run groups the event log by it."""
        self.spark.sparkContext.setJobDescription(f"{self.tag}|{layer}")


# ----------------------------------------------------------------------
class DocjsonChunkHybrid:
    """DoclingDocument JSON -> parse -> hybrid chunks in the fused
    parse_and_chunk mapInArrow stage, into a noop sink."""

    name = "docjson_chunk_hybrid"
    n_docs = 1200
    mega_every = 400
    warmup_passes = 1
    sample_size = 48
    slice_size = mega_every   # one mega-doc per slice, as in the input

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.work, "in_docjson")
        self.first: Optional[dict] = None
        self.ref: Optional[dict] = None
        self.chunks_out = 0

    def generate(self) -> None:
        """Span docs as engine.synth_documents makes them, exported
        once to DoclingDocument JSON, as export_documents(fmt="json")
        does."""
        c = self.ctx
        docs = _span_docs(self.n_docs, c.seed, self.mega_every)
        ids = docs.column("doc_id").to_pylist()
        js = [export_to_docjson_str(doc_from_spans(i, _span_tuples(sp)))
              for i, sp in zip(ids, docs.column("spans").to_pylist())]
        _write_parts(self.in_dir, pa.table({"doc_id": ids, "doc_json": js}),
                     c.nproc)
        self.docs = c.spark.read.parquet(self.in_dir)
        rng = random.Random(c.seed * 7919 + 1)
        idx = rng.sample(range(self.n_docs), self.sample_size - 1)
        mega = self.mega_every * rng.randrange(
            self.n_docs // self.mega_every) + self.mega_every - 1
        self.sample_ids = sorted({f"doc_{i:012d}" for i in idx + [mega]})

    def chunk_doc(self, row: dict, tok) -> tuple:
        """The per-doc public functions the stage runs, in this process:
        row -> (doc tree, chunks, spans parsed)."""
        spans = _span_tuples(docjson_to_spans(row["doc_json"]))
        doc = doc_from_spans(row["doc_id"], spans)
        return doc, hybrid_chunk(doc, tokenizer=tok), len(spans)

    def prepare(self) -> None:
        pass

    def run_pass(self) -> dict:
        self.ctx.describe("engine.parse_and_chunk_docjson")
        obs = Observation("chunk_pass")
        in_sample = F.col("doc_id").isin(self.sample_ids)
        h = _row_hash()
        (parse_and_chunk_docjson(self.docs, json_col="doc_json",
                                 mode="hybrid", max_tokens=MAX_TOKENS)
         .observe(obs,
                  F.count(F.lit(1)).alias("rows"),
                  F.sum(h).alias("digest"),
                  F.count(F.when(in_sample, 1)).alias("sample_rows"),
                  F.sum(F.when(in_sample, h)).alias("sample_digest"))
         .write.format("noop").mode("overwrite").save())
        return dict(obs.get)

    def _reference(self) -> dict:
        """In-process chunk rows of the sample, digested by the same
        Spark hash the pass observes."""
        tok = RegexTokenizer(MAX_TOKENS)
        rows = []
        for r in pq.read_table(self.in_dir, filters=[
                ("doc_id", "in", self.sample_ids)]).to_pylist():
            doc, chunks, _ = self.chunk_doc(r, tok)
            rows += _chunk_rows(r["doc_id"], doc, chunks)
        df = self.ctx.spark.createDataFrame(rows, CHUNKS_SCHEMA)
        self.ctx.describe("check")
        got = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(_row_hash()).alias("d")).first()
        return {"sample_rows": got["n"], "sample_digest": got["d"]}

    def check(self, obs: dict) -> Optional[str]:
        if self.ref is None:
            self.ref = self._reference()
        if self.first is None:
            self.first = obs
            self.chunks_out = obs["rows"]
        for k, v in self.ref.items():
            if obs[k] != v:
                return f"{k}: pass {obs[k]} != in-process {v}"
        for k in ("rows", "digest"):
            if obs[k] != self.first[k]:
                return f"{k}: pass {obs[k]} != first pass {self.first[k]}"
        return None

    def single_core(self) -> dict:
        """The same per-doc functions, in this process, over a
        contiguous slice of the input holding one mega-doc; tokenizer
        calls are counted by a CountingTokenizer passed through
        ``tokenizer=``."""
        start = self.mega_every * random.Random(self.ctx.seed).randrange(
            self.n_docs // self.mega_every)
        tab = pq.read_table(self.in_dir, filters=[(
            "doc_id", "in",
            [f"doc_{i:012d}" for i in range(start, start + self.slice_size)])])
        tok = CountingTokenizer(MAX_TOKENS)
        t0 = time.perf_counter()
        done = [self.chunk_doc(r, tok) for r in tab.to_pylist()]
        dt = time.perf_counter() - t0
        items = sum(sum(1 for _ in doc.iterate_items(with_groups=True))
                    for doc, _, _ in done)
        return {"docs": len(done), "docs_per_s": len(done) / dt,
                "tok_calls": tok.calls, "items": items,
                "spans": sum(n for _, _, n in done)}


# ----------------------------------------------------------------------
# Documents-table generator for the assembly workload. Its constants fit
# the repo's documents test table (sf0.1: 5,000 rows of doc_id, text,
# lang, source, n_chars), as measured there (README.md, "Assembly
# input"):
# - words i.i.d. uniform over that table's 30-word vocabulary, which
#   holds the English stop words "the" and "a" (each ~3.3% of words),
#   so ~9% of docs have no stop word and language ID drops them;
# - 10-100 words per doc, uniform (mean 54.1, deciles 19, 28 ... 90);
# - `lang` label en 41%, zh/es/fr/de ~15% each, independent of the
#   text (the hygiene stage predicts the language from the words);
# - `source` is src<i mod 20>;
# - no e-mail address or phone number;
# - 5% near-duplicates: an earlier doc's text plus " dup".
# The table has 0.16% exact duplicates; the workload plants 2%, exact
# copies of an earlier doc, so the dedup stage has work.
VOCAB = ("agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table value vector window the a").split()
WORDS_MIN, WORDS_MAX = 10, 100
LANG_LABELS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
               ("de", 0.14))
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.02


def corpus_docs(n: int, seed: int) -> pa.Table:
    rng = random.Random(seed)
    labels, weights = zip(*LANG_LABELS)
    texts: List[str] = []
    for i in range(n):
        u = rng.random() if i else 1.0
        if u < EXACT_DUP_SHARE:
            texts.append(texts[rng.randrange(i)])
        elif u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(
                VOCAB, k=rng.randint(WORDS_MIN, WORDS_MAX))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choices(labels, weights, k=n),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def oracle_sql(docs_glob: str) -> tuple:
    """DuckDB retained and packed rows over the generated input.

    Scrub, word split, language rule and quality gate reuse textops'
    regexes, stop words and LANG_PRED_CASE, and dedup keeps the
    clean_corpus oracle's QUALIFY shape. Stop words are counted with
    an unnest-join instead of the clean_corpus oracle's per-word
    list_filter, which DuckDB 1.0 runs ~20x slower. Packing is the
    pack_sequences oracle verbatim, over a ``documents`` view."""
    t = textops
    stops = ", ".join(f"('{lg}', '{w}')" for lg, ws in t.STOPWORDS.items()
                      for w in ws)
    counts = ", ".join(f"count(*) FILTER (WHERE s.lang = '{lg}') AS c_{lg}"
                       for lg in t.STOPWORDS)
    cols = ", ".join(f"CAST(coalesce(c_{lg}, 0) AS BIGINT) AS c_{lg}"
                     for lg in t.STOPWORDS)
    kept = f"""
    WITH scr AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text, '{t.EMAIL_RE}', '[EMAIL]',
                                           'g'),
                            '{t.PHONE_RE}', '[PHONE]', 'g') AS clean_text
      FROM read_parquet('{docs_glob}')),
    w AS (SELECT *, regexp_extract_all(lower(clean_text), '{t.WORD_RE}')
                    AS ws FROM scr),
    stops(lang, word) AS (VALUES {stops}),
    hits AS (
      SELECT doc_id, {counts}
      FROM (SELECT doc_id, unnest(ws) AS word FROM w) u
      JOIN stops s USING (word) GROUP BY doc_id),
    b AS (SELECT w.doc_id, clean_text, CAST(len(ws) AS BIGINT) AS n_words,
                 {cols}
          FROM w LEFT JOIN hits USING (doc_id)),
    p AS (SELECT *, {t.LANG_PRED_CASE} AS pred_lang FROM b)
    SELECT doc_id, clean_text, n_words, pred_lang,
           md5(clean_text) AS content_md5 FROM p
    WHERE pred_lang != 'und' AND n_words >= {t.CLEAN_MIN_WORDS}
      AND n_words <= {t.CLEAN_MAX_WORDS}"""
    retained = """SELECT * FROM kept
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_md5)"""
    return kept, retained, t.SQL_PACK_SEQUENCES


class AssembleCorpus:
    """jobs/build_training_corpus.py's composition: hygiene inside
    run_resumable, window dedup, sequence packing, all to parquet."""

    name = "assemble_corpus"
    n_docs = 16000
    n_buckets = 2
    warmup_passes = 2   # the first pass is cold: class loading, codegen, JIT
    retained_cols = ["doc_id", "content_md5", "n_words", "pred_lang"]
    packed_cols = ["doc_id", "n_tokens", "tok_start", "seq_first",
                   "seq_last", "n_seqs", "crosses_boundary"]

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.work, "in_corpus")
        self.out = {s: os.path.join(ctx.work, s)
                    for s in ("stage1", "stage2", "stage3")}
        self.ref: Optional[dict] = None
        self.chunks_out = 0
        self.keep_ratio = 0.0

    def generate(self) -> None:
        c = self.ctx
        _write_parts(self.in_dir, corpus_docs(self.n_docs, c.seed), c.nproc)
        self.docs = c.spark.read.parquet(self.in_dir)

    def prepare(self) -> None:
        for p in self.out.values():
            _wipe(p)

    def run_pass(self) -> dict:
        c = self.ctx
        spark = c.spark
        res = {}
        c.describe("io.checkpoint.run_resumable+textops.hygiene_over")
        with c.spans.open("io.checkpoint.run_resumable") as sp:
            run_resumable(
                self.docs, self.out["stage1"],
                lambda d: (hygiene_over(d)
                           .filter(F.col("keep")).drop("keep")
                           .withColumn("content_md5", F.md5("clean_text"))),
                n_buckets=self.n_buckets)
        res["run_s"] = sp.seconds
        clean = read_output(spark, self.out["stage1"])
        c.describe("textops.dedup_retain_over")
        with c.spans.open("textops.dedup_retain_over") as sp:
            (dedup_retain_over(clean, mode="window").drop("partition_id")
             .write.mode("overwrite").parquet(self.out["stage2"]))
        res["dedup_s"] = sp.seconds
        retained = spark.read.parquet(self.out["stage2"])
        c.describe("textops.pack_over")
        with c.spans.open("textops.pack_over") as sp:
            (pack_over(retained, text_col="clean_text")
             .write.mode("overwrite").parquet(self.out["stage3"]))
        res["pack_s"] = sp.seconds
        return res

    def _reference(self) -> dict:
        import duckdb
        kept_sql, retained_sql, pack_sql = oracle_sql(
            os.path.join(self.in_dir, "*.parquet"))
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self.ctx.nproc}")
            con.execute(f"SET temp_directory='{self.ctx.work}/duckdb'")
            con.execute(f"CREATE TABLE kept AS {kept_sql}")
            n_kept = con.execute("SELECT count(*) FROM kept").fetchone()[0]
            con.execute(f"CREATE TABLE ret AS {retained_sql}")
            retained = con.execute("SELECT * FROM ret").arrow()
            con.execute("CREATE VIEW documents AS "
                        "SELECT doc_id, clean_text AS text FROM ret")
            packed = con.execute(pack_sql).arrow()
        finally:
            con.close()
        return {"retained": _rows_of(retained, self.retained_cols),
                "packed": _rows_of(packed, self.packed_cols),
                "n_kept": n_kept}

    def check(self, obs: dict) -> Optional[str]:
        if self.ref is None:
            self.ref = self._reference()
        s1 = ds.dataset(os.path.join(self.out["stage1"], "chunks"),
                        format="parquet", partitioning="hive")
        n_kept = s1.count_rows()
        retained = _rows_of(pq.read_table(self.out["stage2"],
                                          columns=self.retained_cols),
                            self.retained_cols)
        packed = _rows_of(pq.read_table(self.out["stage3"],
                                        columns=self.packed_cols),
                          self.packed_cols)
        if n_kept != self.ref["n_kept"]:
            return f"hygiene kept {n_kept} != DuckDB {self.ref['n_kept']}"
        if retained != self.ref["retained"]:
            return (f"retained rows differ from DuckDB ({len(retained)} vs "
                    f"{len(self.ref['retained'])})")
        if packed != self.ref["packed"]:
            return (f"packed rows differ from DuckDB ({len(packed)} vs "
                    f"{len(self.ref['packed'])})")
        self.keep_ratio = len(retained) / n_kept if n_kept else 0.0
        return None

    def single_core(self) -> Optional[dict]:
        return None


WORKLOADS = {w.name: w for w in (DocjsonChunkHybrid, AssembleCorpus)}

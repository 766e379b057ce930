"""The benchmark's workloads.

Each workload generates its inputs from the seed, lists the operations
of one pass, and checks the outputs afterwards. An operation is a
construct step (the layer's public function that builds the plan; it
may start jobs eagerly) and an action step (the collect, toPandas or
writer that forces the result).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import gen

PKG = "mapreduce_word2vec_spark"


@dataclass
class Op:
    name: str
    construct: Callable[[], object]
    action: Callable[[object], object]
    writes: bool = False  # the action is a writer (span "write")


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _digest(rows) -> str:
    """Order-insensitive digest of rows, floats rounded as the oracle does."""
    from mapreduce_word2vec_spark.oracle import canonicalize

    cols = [str(i) for i in range(len(rows[0]))] if rows else []
    canon = canonicalize(cols, [tuple(r) for r in rows])
    return hashlib.sha1(repr(canon).encode()).hexdigest()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    """Inputs generated into ``work`` from ``seed``; ``size`` is "full"
    or "tiny" (the smoke test's)."""

    name = ""
    input_rows = 0
    input_bytes = 0

    def __init__(self, work: Path, seed: int, size: str):
        self.work = work

    def ops(self, spark, qs, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def digest(self, op_name: str, result) -> str:
        """Digest of an op's output; every pass must give the same one."""
        raise NotImplementedError

    def written_bytes(self, op_name: str, result) -> int:
        return 0

    def recall(self, first: dict[str, object]) -> dict[str, float]:
        """Share of planted duplicate pairs each dedup op found."""
        return {}

    def check(self, spark, first: dict[str, object]) -> list[Check]:
        """Output checks on the first successful result of each op."""
        raise NotImplementedError


# --------------------------------------------------------------------
# w2v_corpus: the paper's job plus the similarity query over its output
# --------------------------------------------------------------------

_LINE = re.compile(r"^([a-z]+),(\d+),(\d+),\[([^\]]*)\]$")
_VECTOR_SIZE = 100
_KNN_QUERIES = 32
_KNN_K = 10


def _read_lines(path: Path) -> list[str]:
    lines: list[str] = []
    for part in sorted(path.glob("part-*")):
        lines.extend(part.read_text().splitlines())
    return lines


class W2VCorpus(Workload):
    """Word count -> Word2Vec (global model and per-partition parity
    mode) -> reference-format text output -> cosine top-k word
    neighbours over the written vectors."""

    name = "w2v_corpus"
    SIZES = {"full": dict(n_tokens=3_000, n_books=4, vocab_size=500),
             "tiny": dict(n_tokens=1_500, n_books=2, vocab_size=200)}

    def __init__(self, work: Path, seed: int, size: str):
        super().__init__(work, seed, size)
        self.corpus = work / "corpus"
        self.truth = gen.gen_corpus(self.corpus, seed, **self.SIZES[size])
        self.input_rows = self.truth["lines"]
        self.input_bytes = self.truth["bytes"]
        vocab = sorted(self.truth["word_counts"])
        rng = np.random.default_rng([seed, 200])
        self.query_words = sorted(rng.choice(vocab, min(_KNN_QUERIES, len(vocab)), replace=False).tolist())

    def ops(self, spark, qs, pass_no: int) -> list[Op]:
        from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce
        from mapreduce_word2vec_spark.operators.word2vec import (
            embedding_pipeline,
            format_reference_output,
        )
        from mapreduce_word2vec_spark.operators.word2vec_parity import parity_pipeline
        from mapreduce_word2vec_spark.sources.readers import read_text_corpus
        from mapreduce_word2vec_spark.sources.writers import write_reference_csv
        from pyspark.sql import functions as F

        out = self.work / "out" / f"pass{pass_no}"
        cores = spark.sparkContext.defaultParallelism
        corpus = str(self.corpus)

        def write_to(path: Path):
            def act(df):
                write_reference_csv(df, str(path))
                return path
            return act

        def knn():
            lines = read_text_corpus(spark, str(out / "global"))
            word = F.split("value", ",")[0]
            vecs = lines.select(
                word.alias("word"),
                F.xxhash64(word).alias("vec_id"),
                F.split(F.regexp_extract("value", r"\[(.*)\]", 1), ",")
                .cast("array<double>").alias("embedding"),
            )
            queries = vecs.where(F.col("word").isin(self.query_words))
            return knn_bruteforce(vecs, queries, k=_KNN_K)

        return [
            Op("w2v_global",
               lambda: format_reference_output(embedding_pipeline(spark, corpus)),
               write_to(out / "global"), writes=True),
            Op("w2v_parity",
               lambda: format_reference_output(
                   parity_pipeline(spark, corpus, num_partitions=cores)),
               write_to(out / "parity"), writes=True),
            Op("word_knn", knn, lambda df: df.collect()),
        ]

    def digest(self, op_name, result):
        if op_name == "word_knn":
            return _digest([(r["query_id"], r["neighbor_id"], r["cos"]) for r in result])
        return hashlib.sha1("\n".join(sorted(_read_lines(result))).encode()).hexdigest()

    def written_bytes(self, op_name, result):
        return _dir_bytes(result) if isinstance(result, Path) else 0

    def check(self, spark, first):
        checks = []
        parsed = {}
        for mode in ("w2v_global", "w2v_parity"):
            if first.get(mode) is None:
                checks.append(Check(f"{mode}.ran", False, "no successful pass"))
                continue
            rows, bad = {}, []
            for line in _read_lines(first[mode]):
                m = _LINE.match(line)
                comps = m.group(4).split(",") if m else []
                vals = [float(c) for c in comps] if m else []
                if not m or len(vals) != _VECTOR_SIZE or not all(map(math.isfinite, vals)):
                    bad.append(line[:60])
                    continue
                rows[m.group(1)] = (int(m.group(3)), vals)
            parsed[mode] = rows
            checks.append(Check(f"{mode}.line_format", not bad and bool(rows),
                                f"{len(bad)} malformed of {len(rows) + len(bad)}"))
        truth = self.truth["word_counts"]
        if "w2v_global" in parsed:
            got = {w: c for w, (c, _) in parsed["w2v_global"].items()}
            diff = sum(1 for w in set(got) | set(truth) if got.get(w) != truth.get(w))
            checks.append(Check("w2v_global.counts_equal_recount", diff == 0,
                                f"{diff} words differ of {len(truth)}"))
        if len(parsed) == 2:
            a, b = set(parsed["w2v_global"]), set(parsed["w2v_parity"])
            checks.append(Check("w2v.modes_same_word_set", a == b,
                                f"{len(a ^ b)} words in one mode only"))
            got = {w: c for w, (c, _) in parsed["w2v_parity"].items()}
            checks.append(Check("w2v_parity.counts_equal_recount", got == truth, ""))
        knn_rows = first.get("word_knn")
        if knn_rows is None:
            checks.append(Check("word_knn.ran", False, "no successful pass"))
        else:
            from pyspark.sql import functions as F

            ids = {r[0]: r[1] for r in spark.read.text(str(first["w2v_global"])).select(
                F.xxhash64(F.split("value", ",")[0]), F.split("value", ",")[0]).collect()}
            vocab_ids = {i for i, w in ids.items() if w in truth}
            per_q: dict[int, int] = {}
            ok = True
            for r in knn_rows:
                per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
                ok &= (r["neighbor_id"] in vocab_ids and r["neighbor_id"] != r["query_id"]
                       and -1.000001 <= r["cos"] <= 1.000001)
            want = {i for i, w in ids.items() if w in set(self.query_words)}
            ok &= set(per_q) == want and all(n == _KNN_K for n in per_q.values())
            checks.append(Check("word_knn.topk_shape", ok,
                                f"{len(per_q)} queries, {len(knn_rows)} rows"))
        return checks


# --------------------------------------------------------------------
# Catalog workloads over the seeded sf-style tables
# --------------------------------------------------------------------


def _oracle_checks(spark, names, first: dict[str, object], tables: Path) -> list[Check]:
    """Hash-compare each oracle-backed output against DuckDB on the same
    parquet files. The Spark side is the result the timed pass produced,
    turned back into a DataFrame, so no query runs twice."""
    from mapreduce_word2vec_spark.oracle import compare, duckdb_connection
    from mapreduce_word2vec_spark.plans import catalog

    sql = catalog.oracle_sql()
    con = duckdb_connection(str(tables))
    checks = []
    for name in names:
        res = first.get(name)
        if name not in sql:
            continue
        if res is None:
            checks.append(Check(f"{name}.oracle", False, "no successful pass"))
            continue
        r = compare(name, res.to_df(spark), sql[name], con)
        checks.append(Check(f"{name}.oracle", r.match, str(r)))
    con.close()
    return checks


@dataclass
class Result:
    """What an action produced: a pandas frame, or the path of a
    parquet write, with the plan's schema."""

    schema: object
    pdf: object = None
    path: Path | None = None

    def to_df(self, spark):
        if self.path is not None:
            return spark.read.parquet(str(self.path))
        return spark.createDataFrame(self.pdf, schema=self.schema)

    def tuples(self) -> list[tuple]:
        if self.path is not None:
            import pyarrow.parquet as pq

            return [tuple(d.values()) for d in pq.read_table(self.path).to_pylist()]
        return [tuple(r) for r in self.pdf.itertuples(index=False, name=None)]


def _to_pandas(df) -> Result:
    return Result(df.schema, pdf=df.toPandas())


def _pairs(res: Result | None) -> set[tuple[int, int]]:
    """The (id_a, id_b) pairs a dedup op reported."""
    if res is None:
        return set()
    return {(int(a), int(b)) for a, b in zip(res.pdf["id_a"], res.pdf["id_b"])}


class LLMCuration(Workload):
    """The LLM-data batch: exact shingle-Jaccard dedup, PageRank over
    the near-duplicate graph and the pretraining mix written to
    parquet, plus a sessionized event stream and a one-table aggregate
    whose time is mostly the per-query floor."""

    name = "llm_curation"
    SIZES = {"full": dict(sf=0.001, n_docs=400, n_emb=100),
             "tiny": dict(sf=0.0005, n_docs=200, n_emb=50)}
    OPS = ("dedup_ngram_jaccard", "graph_pagerank", "pipeline_pretrain_mix",
           "stream_session", "q6_forecast_revenue")
    READS = ("documents", "events", "lineitem")  # the tables OPS scan
    DOC_DEDUP = ("dedup_ngram_jaccard",)

    def __init__(self, work: Path, seed: int, size: str):
        super().__init__(work, seed, size)
        self.tables = work / "tables"
        self.truth = gen.gen_tables(self.tables, seed, **self.SIZES[size])
        self.input_rows = sum(self.truth["rows"][t] for t in self.READS)
        self.input_bytes = sum(self.truth["bytes"][t] for t in self.READS)

    def digest(self, op_name, result):
        return _digest(result.tuples())

    def written_bytes(self, op_name, result):
        return _dir_bytes(result.path) if result.path is not None else 0

    def ops(self, spark, qs, pass_no):
        from mapreduce_word2vec_spark.sources.writers import write_parquet

        out = self.work / "out" / f"pass{pass_no}" / "pretrain_mix"

        def write(df):
            write_parquet(df, str(out))
            return Result(df.schema, path=out)

        def op(name):
            writes = name == "pipeline_pretrain_mix"
            return Op(name, lambda: qs[name](spark, str(self.tables)),
                      write if writes else _to_pandas, writes)

        return [op(n) for n in self.OPS]

    def recall(self, first):
        planted = set(map(tuple, self.truth["near_dup_doc_pairs"]
                          + self.truth["exact_dup_doc_pairs"]))
        return {name: len(planted & _pairs(first.get(name))) / len(planted)
                for name in self.DOC_DEDUP}

    def check(self, spark, first):
        checks = _oracle_checks(spark, self.OPS, first, self.tables)
        exact = set(map(tuple, self.truth["exact_dup_doc_pairs"]))
        for name in self.DOC_DEDUP:
            found = _pairs(first.get(name))
            checks.append(Check(f"{name}.finds_exact_dups", exact <= found,
                                f"{len(exact & found)}/{len(exact)}"))
        for name, r in self.recall(first).items():
            checks.append(Check(f"{name}.planted_recall_recorded", True, f"{r:.4f}"))
        return checks


WORKLOADS = {w.name: w for w in (W2VCorpus, LLMCuration)}

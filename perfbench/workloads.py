"""The three benchmark workloads.

Each workload turns a seed into input files, runs its operation through
the package's public functions (untraced, or traced with one span per
layer call), and checks every result against an independent DuckDB
computation after the timed region.

Every pass reads its input through a fresh directory of hard links to
the generated files, so no plan-, path- or session-keyed cache can carry
work from one pass to the next: every warm pass redoes the work a fresh
call would do, in a warm JVM.
"""

from __future__ import annotations

import os
import random
import re
from contextlib import nullcontext

import duckdb

import inputs
from oracle import compare_rows, duck_rows

QUERY_MIX = [
    # builders that run eager driver-side jobs (scalar collects, local
    # frames) before they return the final plan
    "market_share", "local_supplier_volume", "winsorized_revenue",
    "exact_median_price",
    # builders that only compose a lazy plan: Catalyst and execution
    "shipping_priority", "pricing_summary", "returned_item_report",
    "customer_order_distribution",
]
TPCH_SF = 0.02
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

TWEETS_TRAIN, TWEETS_TEST = 24_000, 6_000
CORPUS_DOCS = 1_000

# SVM hyperparameters of the reference (SVM.java:34-36): the compat model
# is eta_5 * (pos - neg) token occurrences
SVM_ETA = 0.1 / (1 + 5 * 0.01)


def _layer_helpers(tr):
    """``layer(name)``: a span per layer call when traced, else nothing.
    ``mat(df)``: materialize at the layer boundary when traced (so the
    span holds the layer's jobs), else the lazy frame unchanged."""
    if tr is None:
        return (lambda name: nullcontext()), (lambda df: df)
    return tr.span, (lambda df: df.localCheckpoint(eager=True))


class Workload:
    name = ""
    input_names: list[str] = []

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "input")
        self.n_dirs = 0

    def fresh_input(self) -> str:
        """A new directory of hard links to the generated input files."""
        d = os.path.join(self.work, f"pass{self.n_dirs}")
        self.n_dirs += 1
        os.makedirs(d)
        for n in self.input_names:
            os.link(os.path.join(self.in_dir, n), os.path.join(d, n))
        return d

    def fetch(self, result):
        """The operation's result in checkable form, fetched after the
        operation's timer stops."""
        return result

    def pass_ops(self, k: int) -> list[str]:
        """Operation labels of pass ``k`` (one label for a one-op pass)."""
        return [self.name]

    def rows_per_op(self) -> int:
        return 0


# --------------------------------------------------------------------------
# tweets_nb_svm
# --------------------------------------------------------------------------

# The reference's cleaning regexes (NB.java:67-73, SVM.java:39-50), in
# Python's engine with ASCII classes, which match Java's defaults
_URL_A = re.compile(
    r"(https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\.[^\s]{2,}"
    r"|www\.[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\.[^\s]{2,}"
    r"|https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9]+\.[^\s]{2,}"
    r"|www\.[a-zA-Z0-9]+\.[^\s]{2,})", re.I | re.A)
_TAG_A = re.compile(r"(#|@|&).*?\w+", re.A)
_URL_B = re.compile(r"https?://\S+", re.I | re.A)


def _clean_a(s: str) -> str:
    s = _URL_A.sub("", s)
    s = _TAG_A.sub("", s)
    s = re.sub(r"\d+", "", s, flags=re.A)
    s = re.sub(r"[^a-zA-Z ]", " ", s)
    s = s.lower().strip(" ")
    return re.sub(r"\s+", " ", s, flags=re.A)


def _clean_b(s: str) -> str:
    s = s.lower()
    s = _URL_B.sub(" ", s)
    s = re.sub(r"[^a-zA-Z ]", " ", s)
    s = re.sub(r"\s+", " ", s, flags=re.A)
    return s.strip(" ")


def _parse(line: str, mode: str):
    """Reference parse (NB.java:53-61, SVM.java:73-76): naive comma split;
    nb stitches the tail onto field 3 without commas, svm keeps field 3
    and drops lines with fewer than 4 fields."""
    p = line.split(",")
    if mode == "svm":
        return (p[0], p[1], p[3]) if len(p) >= 4 else None
    text = p[3] + "".join(p[4:]) if len(p) > 4 else (p[3] if len(p) == 4 else None)
    return (p[0], p[1] if len(p) > 1 else None, text)


_NB_SQL = """
WITH stats AS (
  SELECT count(*) AS tweets,
         sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS pos_t,
         sum(CASE WHEN label <> 1.0 THEN 1 ELSE 0 END) AS neg_t,
         sum(CASE WHEN label = 1.0 THEN nw ELSE 0 END) AS pos_w,
         sum(CASE WHEN label <> 1.0 THEN nw ELSE 0 END) AS neg_w
  FROM train),
tok_train AS (SELECT label, unnest(string_split(text, ' ')) AS word
              FROM train WHERE trim(text) <> ''),
tok_test AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM test WHERE trim(text) <> ''),
model AS (SELECT word, count(*) FILTER (WHERE label = 1.0) AS pc,
                 count(*) FILTER (WHERE label <> 1.0) AS nc
          FROM tok_train GROUP BY word),
vocab AS (SELECT count(*) AS v FROM model),
sums AS (SELECT t.doc_id, sum(ln((m.pc + 1) / (s.pos_w + vb.v))) AS sp,
                sum(ln((m.nc + 1) / (s.neg_w + vb.v))) AS sn
         FROM tok_test t JOIN model m USING (word), stats s, vocab vb
         GROUP BY t.doc_id),
preds AS (
  SELECT d.label, CASE WHEN floor(((ln(s.pos_t / s.tweets) + coalesce(u.sp, 0.0))
                   - (ln(s.neg_t / s.tweets) + coalesce(u.sn, 0.0))) * 1000000.0 + 0.5)
                   / 1000000.0 > 0 THEN 1.0 ELSE 0.0 END AS prediction
  FROM test d LEFT JOIN sums u USING (doc_id), stats s)
SELECT sum(CASE WHEN prediction = 1 AND label = 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction = 1 AND label <> 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction <> 1 AND label <> 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction <> 1 AND label = 1 THEN 1 ELSE 0 END),
       (SELECT v FROM vocab)
FROM preds
"""

_SVM_SQL = f"""
WITH tok_train AS (SELECT label, unnest(string_split(text, ' ')) AS word
                   FROM train WHERE trim(text) <> ''),
tok_test AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM test WHERE trim(text) <> ''),
w AS (SELECT word, {SVM_ETA!r} * (count(*) FILTER (WHERE label = 1.0)
                                 - count(*) FILTER (WHERE label <> 1.0)) AS weight
      FROM tok_train GROUP BY word),
sc AS (SELECT t.doc_id, sum(w.weight) AS s FROM tok_test t JOIN w USING (word)
       GROUP BY t.doc_id),
preds AS (
  SELECT d.label, CASE WHEN floor(coalesce(sc.s, 0.0) * 1000000.0 + 0.5)
                   / 1000000.0 >= 0 THEN 1.0 ELSE 0.0 END AS prediction
  FROM test d LEFT JOIN sc USING (doc_id))
SELECT sum(CASE WHEN prediction = 1 AND label = 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction = 1 AND label <> 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction <> 1 AND label <> 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN prediction <> 1 AND label = 1 THEN 1 ELSE 0 END),
       0
FROM preds
"""


class Tweets(Workload):
    name = "tweets_nb_svm"
    input_names = ["train.csv", "test.csv"]

    def generate(self) -> dict:
        return inputs.write_tweets(self.in_dir, self.seed, TWEETS_TRAIN, TWEETS_TEST)

    def rows_per_op(self) -> int:
        return TWEETS_TRAIN + TWEETS_TEST

    @staticmethod
    def _docs(raw, chain):
        from pyspark.sql import functions as F

        from text_sentiment_classification_hadoop_spark_spark.sources.tweets import label_col
        return raw.select(F.col("tweet_id").alias("doc_id"), label_col().alias("label"),
                          chain(F.col("text")).alias("text")).na.fill({"text": ""})

    def run(self, spark, label: str, d: str, tr=None) -> dict:
        """CLI ``nb-compat`` then ``svm-compat`` on the same train/test pair
        (``__main__.py:258-278``). With a tracer, every layer call is a
        span whose result is materialized at the span's end."""
        from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import (
            clean_chain_a, clean_chain_b)
        from text_sentiment_classification_hadoop_spark_spark.operators import metrics as M
        from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
        from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM
        from text_sentiment_classification_hadoop_spark_spark.sources.tweets import read_tweets_naive
        train_p, test_p = os.path.join(d, "train.csv"), os.path.join(d, "test.csv")
        layer, mat = _layer_helpers(tr)
        out = {}
        for mode, chain in (("nb", clean_chain_a), ("svm", clean_chain_b)):
            with layer("sources.read"):
                raws = [mat(read_tweets_naive(spark, p, mode=mode)) for p in (train_p, test_p)]
            with layer("functions.clean"):
                train, test = [mat(self._docs(r, chain)) for r in raws]
            if mode == "nb":
                self._pending = [train, test]
                with layer("nb.train"):
                    model, stats = NB.nb_train(train)
                    model = mat(model)
                with layer("nb.score"):
                    scored = mat(NB.nb_score(test, model, stats))
                extra = stats.features_size
            else:
                with layer("svm.train"):
                    w = mat(SVM.svm_effective_train(train))
                with layer("svm.score"):
                    scored = mat(SVM.svm_score(test, w))
                extra = 0
            with layer("metrics"):
                c = M.confusion_counts(scored)
                out[mode] = (c, M.binary_metrics(c), extra)
        return out

    def counters(self, spark, d: str, result: dict) -> dict:
        """Counts at the sources and functions boundaries, taken after the
        traced operation so their jobs fall outside every span."""
        from pyspark.sql import functions as F
        lines = spark.read.text([os.path.join(d, "train.csv"), os.path.join(d, "test.csv")])
        n = F.size(F.split("value", ","))
        r = lines.agg(F.count(F.lit(1)).alias("rows"),
                      F.sum((n > 4).cast("int")).alias("stitched"),
                      F.sum((n < 4).cast("int")).alias("malformed")).collect()[0]
        toks = 0
        for df in self._pending:
            toks += df.filter(F.length(F.trim("text")) > 0) \
                .agg(F.sum(F.size(F.split("text", " ")))).collect()[0][0] or 0
        self._pending = []
        return {"sources.rows_in": r["rows"], "sources.rows_stitched": r["stitched"],
                "sources.rows_malformed": r["malformed"], "functions.tokens": toks,
                "nb.vocab": result["nb"][2]}

    def oracle(self):
        import pyarrow as pa
        con = duckdb.connect()
        want = {}
        for mode, clean in (("nb", _clean_a), ("svm", _clean_b)):
            for part in ("train", "test"):
                ids, labels, texts = [], [], []
                with open(os.path.join(self.in_dir, f"{part}.csv")) as f:
                    for line in f.read().splitlines():
                        p = _parse(line, mode)
                        if p is None:
                            continue
                        ids.append(p[0])
                        labels.append(1.0 if p[1] == "1" else 0.0)
                        texts.append(clean(p[2]) if p[2] is not None else "")
                # nw: the reference's split("\\s+").length, 1 for empty text
                tbl = pa.table({"doc_id": ids, "label": labels, "text": texts,
                                "nw": [len(re.split(r"\s+", t)) for t in texts]})
                con.register("rows", tbl)
                con.execute(f"CREATE OR REPLACE TABLE {part} AS SELECT * FROM rows")
                con.unregister("rows")
            tp, fp, tn, fn, v = con.execute(_NB_SQL if mode == "nb" else _SVM_SQL).fetchone()
            want[mode] = ({"tp": tp, "fp": fp, "tn": tn, "fn": fn}, v)
        con.close()
        return want

    def check(self, label: str, got: dict, want) -> list[str]:
        problems = []
        for mode in ("nb", "svm"):
            counts, metrics, vocab = got[mode]
            w_counts, w_vocab = want[mode]
            if counts != w_counts:
                problems.append(f"{mode} confusion {counts} != oracle {w_counts}")
            if mode == "nb" and vocab != w_vocab:
                problems.append(f"nb vocabulary {vocab} != oracle {w_vocab}")
            if metrics != _binary_metrics(w_counts):
                problems.append(f"{mode} metrics {metrics} disagree with the oracle counts")
        return problems


def _binary_metrics(c: dict) -> dict:
    """Accuracy, precision, recall and F1 as the reference prints them
    (NB.java:337-341)."""
    tp, fp, tn, fn = c["tp"], c["fp"], c["tn"], c["fn"]
    total = tp + fp + tn + fn
    acc = (tp + tn) / total if total else 0.0
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"accuracy": acc, "precision": prec, "recall": rec, "f1": f1}


# --------------------------------------------------------------------------
# corpus_curate_dedup
# --------------------------------------------------------------------------

class Corpus(Workload):
    name = "corpus_curate_dedup"
    input_names = ["documents.parquet"]

    def generate(self) -> dict:
        meta = inputs.write_corpus(self.in_dir, self.seed, CORPUS_DOCS)
        self.planted = meta["planted"]
        return meta["info"]

    def rows_per_op(self) -> int:
        return CORPUS_DOCS

    def run(self, spark, label: str, d: str, tr=None) -> dict:
        """Curate and dedup one corpus, then write the kept corpus (CLI
        ``curate --out`` and ``dedup``), with the checkpoints those
        commands make (the verdict and the resolved frame)."""
        from pyspark.sql import functions as F

        from text_sentiment_classification_hadoop_spark_spark.operators import curation as CU
        from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
        out_dir = os.path.join(d, "out")
        layer, mat = _layer_helpers(tr)
        with layer("sources.read"):
            docs = mat(spark.read.parquet(os.path.join(d, "documents.parquet")))
        text = docs.select("doc_id", "text")
        with layer("curation.verdict"):
            verdict = CU.curation_pipeline(text).localCheckpoint(eager=True)
        sigs = None
        if tr is not None:
            with layer("functions.minhash"):
                sigs = mat(D.minhash_signatures(text))
        with layer("dedup.candidates"):
            pairs = mat(D.minhash_near_dups(text, sigs=sigs))
        with layer("dedup.components"):
            canon = D.canonical_docs(docs, pairs).localCheckpoint(eager=True)
        with layer("sources.write"):
            kept = verdict.filter(F.col("kept") == 1).select("doc_id")
            docs.join(kept, "doc_id").write.mode("overwrite").parquet(out_dir)
        self._sigs = sigs
        return {"verdict": verdict, "pairs": pairs, "canon": canon, "out": out_dir}

    def fetch(self, result: dict) -> dict:
        return {k: v if k == "out" else [tuple(r) for r in v.collect()]
                for k, v in result.items()}

    def counters(self, spark, d: str, result: dict) -> dict:
        from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
        cands = D.lsh_candidate_pairs(self._sigs).count()
        self._sigs = None
        confirmed = len(result["pairs"])
        size = sum(os.path.getsize(os.path.join(root, f))
                   for root, _, files in os.walk(result["out"]) for f in files)
        return {"sources.rows_in": CORPUS_DOCS, "sources.bytes_written": size,
                "dedup.candidate_pairs": cands, "dedup.confirmed_pairs": confirmed,
                "dedup.pair_yield": confirmed / cands if cands else 0.0,
                "dedup.removed": sum(r[2] for r in result["canon"]),
                "curation.kept": sum(r[1] for r in result["verdict"])}

    def oracle(self):
        import __spark_entry__ as registry
        con = duckdb.connect()
        path = os.path.join(self.in_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        sql = registry.oracle_sql()
        want = {"verdict": duck_rows(con, sql["curation_pipeline"])}
        con.close()
        return want

    def check(self, label: str, got: dict, want) -> list[str]:
        problems = []
        verdict_cols = ["doc_id", "kept", "reject_reason"]
        problems += compare_rows("verdict", verdict_cols, got["verdict"], *want["verdict"])
        # canonical ids: min id of each connected component of the pairs
        parent: dict[int, int] = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b, est in got["pairs"]:
            if not (a < b and est >= 0.5):
                problems.append(f"pair {(a, b, est)} violates id_a < id_b, est >= 0.5")
                break
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        canon = {r[0]: (r[1], r[2]) for r in got["canon"]}
        if len(canon) != CORPUS_DOCS:
            problems.append(f"canonical_docs returned {len(canon)} docs")
        bad = [i for i, (c, dup) in canon.items() if c != find(i) or dup != int(c != i)]
        if bad:
            problems.append(f"{len(bad)} docs with a wrong canonical id, e.g. {bad[0]}")
        # the verdict's duplicate gate and canonical_docs must agree
        vcols, vrows = want["verdict"]
        i_id, i_kept, i_reason = (vcols.index(c) for c in verdict_cols)
        v_reason = {r[i_id]: r[i_reason] for r in vrows}
        clash = [i for i, r in v_reason.items()
                 if (r == "duplicate" and canon.get(i, (0, 0))[1] != 1)
                 or (r is None and canon.get(i, (0, 1))[1] != 0)]
        if clash:
            problems.append(f"{len(clash)} docs where is_dup disagrees with the oracle verdict")
        # planted clusters: every verbatim copy is flagged, and one-word
        # edits (~0.93 shingle Jaccard) are caught nearly always
        for a, b in self.planted["exact"]:
            if find(a) != find(b):
                problems.append(f"planted exact duplicate {a}/{b} not merged")
                break
        near = self.planted["near"]
        missed = sum(find(a) != find(b) for a, b in near)
        if missed > 0.05 * len(near):
            problems.append(f"{missed}/{len(near)} planted near duplicates not merged")
        # written outputs, read back by DuckDB
        con = duckdb.connect()
        kept_ids = sorted(con.execute(
            f"SELECT doc_id FROM read_parquet('{got['out']}/*.parquet')").fetchall())
        want_kept = sorted((r[i_id],) for r in vrows if r[i_kept] == 1)
        con.close()
        if kept_ids != want_kept:
            problems.append(f"kept corpus has {len(kept_ids)} docs, oracle {len(want_kept)}")
        return problems


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

class QueryMix(Workload):
    name = "query_mix"
    input_names = [f"{t}.parquet" for t in TPCH_TABLES]

    def generate(self) -> dict:
        return inputs.write_tpch(self.in_dir, self.seed, TPCH_SF)

    def pass_ops(self, k: int) -> list[str]:
        order = list(QUERY_MIX)
        random.Random(self.seed * 1009 + k).shuffle(order)
        return order

    def run(self, spark, label: str, d: str, tr=None):
        import __spark_entry__ as registry
        fn = registry.queries()[label]
        if tr is None:
            df = fn(spark, d)
            return df.columns, [tuple(r) for r in df.collect()]
        with tr.span("entry.build"):
            df = fn(spark, d)
        with tr.span("entry.exec"):
            rows = [tuple(r) for r in df.collect()]
        # the Dataset's own QueryExecution planned and ran collect()
        phases = df._jdf.queryExecution().tracker().phases()
        self._phases = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            self._phases[f"catalyst.{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return df.columns, rows

    def counters(self, spark, d: str, result) -> dict:
        return self._phases

    def oracle(self):
        import __spark_entry__ as registry
        con = duckdb.connect()
        for t in TPCH_TABLES:
            p = os.path.join(self.in_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        sql = registry.oracle_sql()
        want = {q: duck_rows(con, sql[q]) for q in QUERY_MIX}
        con.close()
        return want

    def check(self, label: str, got, want) -> list[str]:
        cols, rows = got
        return compare_rows(label, cols, rows, *want[label])


WORKLOADS = {w.name: w for w in (Tweets, Corpus, QueryMix)}

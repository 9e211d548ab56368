"""``dedup_corpus``: LLM-pipeline steps on seeded document samples.

Each op is one public pipeline function — ``dedup.exact_dedup``,
``dedup.minhash_lsh_pairs``, ``dedup.incremental_dedup_minhash``,
``text.tf_idf``, ``text.quality_score``, ``text.tfidf_doc_similarity`` or
``similarity.cosine_topk_bruteforce`` — run to a collected result. Its
input is a seeded sample of ~300 ``documents`` (6% at sf0.1, a filter over
the parquet file) plus injected exact copies and one-word-edited near
copies of sampled documents. Each round runs every step on a fresh sample, then every step
again on the same input DataFrame, so half of the ops can be served by the
package's scratch-persist cache and half cannot.

Every result is checked against a pandas/numpy reference computed from
the same input. Exact dedup must remove exactly the injected copies;
near-duplicate recall (injected pairs found / injected) is reported.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from core import Op
from datagen import RARE_WORDS, make_text

KINDS = (
    "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs",
    "dedup.incremental_dedup_minhash",
    "text.tf_idf",
    "text.quality_score",
    "text.tfidf_doc_similarity",
    "similarity.cosine_topk_bruteforce",
)
SAMPLE_MOD, SAMPLE_MUL = 1_000_003, 2_654_435_761
SAMPLE_DOCS = 300  # expected sample size; the whole table when smaller
EXACT_ID0, NEAR_ID0, FRESH_ID0, BATCH_NEAR_ID0 = 10_000_000, 20_000_000, 30_000_000, 40_000_000
SHINGLE = 3
JACCARD = 0.5
TOPK_QUERIES, TOPK_K = 20, 5
SIM_K = 20


def shingles(text: str) -> frozenset:
    toks = text.split(" ")
    return frozenset(tuple(toks[i : i + SHINGLE]) for i in range(max(len(toks) - SHINGLE + 1, 1)))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Sample:
    """One op input: the sampled rows, the injected rows and what a
    correct pipeline must do with them."""

    def __init__(self, docs: pd.DataFrame, salt: int, rng, spark, docs_path: str):
        from pyspark.sql import functions as F

        cut = int(min(1.0, SAMPLE_DOCS / len(docs)) * SAMPLE_MOD)
        keep = (docs["doc_id"] * SAMPLE_MUL + salt) % SAMPLE_MOD < cut
        base = docs[keep]
        n_inj = max(len(base) // 50, 2)
        texts = set(docs["text"])
        exact = base.iloc[rng.choice(len(base), n_inj, replace=False)].copy()
        self.exact_pairs = set(zip(exact["doc_id"], EXACT_ID0 + np.arange(n_inj)))
        exact["doc_id"] = EXACT_ID0 + np.arange(n_inj)
        near = _near_copies(base, n_inj, rng, texts, NEAR_ID0)
        self.near_pairs = set(zip(near.pop("src_id"), near["doc_id"]))
        self.frame = pd.concat([base, exact, near], ignore_index=True)
        injected = pd.concat([exact, near], ignore_index=True)
        sampled = spark.read.parquet(docs_path).filter(
            F.expr(f"pmod(doc_id * {SAMPLE_MUL} + {salt}, {SAMPLE_MOD}) < {cut}")
        )
        self.df = sampled.unionByName(spark.createDataFrame(injected, schema=sampled.schema))
        self.base_df = sampled
        # incremental-dedup batch: fresh documents plus near copies of
        # sampled ones, deduplicated against the plain sample
        fresh = []
        while len(fresh) < n_inj * 4:
            t = make_text(rng, int(rng.integers(10, 101)))
            if t not in texts:
                texts.add(t)
                fresh.append(t)
        batch_near = _near_copies(base, n_inj, rng, texts, BATCH_NEAR_ID0).drop(columns="src_id")
        batch = pd.DataFrame(
            {
                "doc_id": FRESH_ID0 + np.arange(len(fresh)),
                "text": fresh,
                "lang": "en",
                "source": "fresh",
                "n_chars": [len(t) for t in fresh],
            }
        )
        self.batch = pd.concat([batch, batch_near], ignore_index=True)
        self.fresh_ids = set(batch["doc_id"])
        self.batch_df = spark.createDataFrame(self.batch, schema=sampled.schema)


def _near_copies(base: pd.DataFrame, n: int, rng, texts: set, id0: int) -> pd.DataFrame:
    """``n`` copies of long sampled documents with one middle word swapped
    for a rare word (word-3-shingle Jaccard to the source >= 0.8)."""
    long_docs = base[base["text"].str.count(" ") >= 40]
    rows = []
    for i in rng.permutation(len(long_docs)):
        src = long_docs.iloc[i]
        toks = src["text"].split(" ")
        pos = int(rng.integers(SHINGLE, len(toks) - SHINGLE))
        toks[pos] = RARE_WORDS[rng.integers(0, len(RARE_WORDS))]
        text = " ".join(toks)
        if text in texts:
            continue
        texts.add(text)
        rows.append(
            {
                "doc_id": id0 + len(rows),
                "text": text,
                "lang": src["lang"],
                "source": src["source"],
                "n_chars": len(text),
                "src_id": src["doc_id"],
            }
        )
        if len(rows) == n:
            break
    cols = ["doc_id", "text", "lang", "source", "n_chars", "src_id"]
    return pd.DataFrame(rows, columns=cols).astype({"doc_id": "int64", "n_chars": "int64"})


class DedupCorpus:
    name = "dedup_corpus"
    independent_warmup = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs = ctx.tables["documents"].to_pandas()
        self.docs_path = os.path.join(ctx.data_dir, "documents.parquet")
        emb = ctx.tables["embeddings"].to_pandas()
        self.vec_ids = emb["vec_id"].to_numpy()
        self.vectors = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.emb_path = os.path.join(ctx.data_dir, "embeddings.parquet")
        self.rotation: list = []
        self.last: dict = {}  # kind -> the input its latest fresh op used
        self.found = self.injected = 0
        self.pairs_out: list = []

    def setup(self) -> None:
        """Nothing to store: inputs are sampled per op."""

    def warmup(self) -> list:
        return [self._op(kind, repeat=False) for kind in KINDS]

    @property
    def mid_round(self) -> bool:
        return bool(self.rotation)

    def next_op(self) -> Op:
        if not self.rotation:
            # a round: every kind on a fresh input, then every kind again on
            # the input its fresh op used
            fresh = [(kind, False) for kind in KINDS]
            again = [(kind, True) for kind in KINDS]
            self.rotation = (fresh + again)[::-1]
        kind, repeat = self.rotation.pop()
        return self._op(kind, repeat)

    # -------------------------------------------------------------- ops

    def _op(self, kind: str, repeat: bool) -> Op:
        inp = self.last[kind] if repeat else self._new_input(kind)
        self.last[kind] = inp
        fn_name = kind.split(".")[1]
        run, check, docs = getattr(self, f"_{fn_name}")(inp)
        tracer = self.ctx.tracer

        def traced_run():
            with tracer.span(kind):
                return run()

        return Op(kind, traced_run, check, docs=docs, repeat=repeat)

    def _new_input(self, kind: str):
        rng = self.ctx.rng
        if kind == "similarity.cosine_topk_bruteforce":
            return np.sort(rng.choice(self.vec_ids, min(TOPK_QUERIES, len(self.vec_ids)), replace=False))
        salt = int(rng.integers(0, SAMPLE_MOD))
        return Sample(self.docs, salt, rng, self.ctx.spark, self.docs_path)

    def _exact_dedup(self, s: Sample):
        from pandas_db_sdk_spark import dedup

        want = set(s.frame["doc_id"]) - {copy for _, copy in s.exact_pairs}

        def check(pdf):
            got = set(pdf["doc_id"])
            if got != want:
                return f"exact_dedup kept {len(got)} docs, expected {len(want)}"
            return None

        run = lambda: dedup.exact_dedup(s.df, "text", "doc_id").select("doc_id").toPandas()  # noqa: E731
        return run, check, len(s.frame)

    def _minhash_lsh_pairs(self, s: Sample):
        from pandas_db_sdk_spark import dedup

        text = dict(zip(s.frame["doc_id"], s.frame["text"]))
        injected = s.exact_pairs | s.near_pairs

        def check(pdf):
            pairs = set(zip(pdf["id_a"], pdf["id_b"]))
            self.pairs_out.append(len(pairs))
            self.found += len(injected & pairs)
            self.injected += len(injected)
            for a, b, j in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard"]):
                if a >= b or abs(j - jaccard(text[a], text[b])) > 1e-6 or j < JACCARD:
                    return f"minhash pair ({a}, {b}) reports jaccard {j}"
            return None

        run = lambda: dedup.minhash_lsh_pairs(s.df, "doc_id", "text").toPandas()  # noqa: E731
        return run, check, len(s.frame)

    def _incremental_dedup_minhash(self, s: Sample):
        from pandas_db_sdk_spark import dedup

        batch_ids = set(s.batch["doc_id"])

        def check(pdf):
            kept = set(pdf["doc_id"])
            if not s.fresh_ids <= kept or not kept <= batch_ids:
                return "incremental dedup dropped a fresh document or invented one"
            return None

        def run():
            return (
                dedup.incremental_dedup_minhash(s.batch_df, s.base_df, "doc_id", "text")
                .select("doc_id")
                .toPandas()
            )

        return run, check, len(s.frame) - len(s.exact_pairs) - len(s.near_pairs) + len(s.batch)

    def _tf_idf(self, s: Sample):
        from pandas_db_sdk_spark import text

        toks = s.frame[["doc_id"]].assign(token=s.frame["text"].str.split(" ")).explode("token")
        tf = toks.groupby(["doc_id", "token"]).size().rename("tf").reset_index()
        dfreq = tf.groupby("token").size().rename("df")
        n = s.frame["doc_id"].nunique()
        want = tf.join(dfreq, on="token")
        want = want[want["df"] >= 2]
        want = want.assign(
            tfidf=np.round(want["tf"] * (np.log((n + 1) / (want["df"] + 1)) + 1.0), 6)
        ).sort_values(["doc_id", "token"], ignore_index=True)

        def check(pdf):
            got = pdf.sort_values(["doc_id", "token"], ignore_index=True)
            if len(got) != len(want):
                return f"tf_idf returned {len(got)} rows, expected {len(want)}"
            same = (
                (got["token"] == want["token"]).all()
                and (got["tf"].to_numpy() == want["tf"].to_numpy()).all()
                and (got["df"].to_numpy() == want["df"].to_numpy()).all()
                and np.allclose(got["tfidf"], want["tfidf"], rtol=0, atol=2e-6)
            )
            return None if same else "tf_idf values differ from the reference"

        run = lambda: text.tf_idf(s.df, "doc_id", "text").toPandas()  # noqa: E731
        return run, check, len(s.frame)

    def _quality_score(self, s: Sample):
        from pandas_db_sdk_spark import text

        want = dict(zip(s.frame["doc_id"], s.frame["text"].str.count(" ") + 1))

        def check(pdf):
            got = dict(zip(pdf["doc_id"], pdf["n_words"]))
            if got != want:
                return "quality_score word counts differ from the input"
            if not pdf["quality_score"].between(0.0, 1.0).all():
                return "quality_score outside [0, 1]"
            return None

        def run():
            return (
                text.quality_score(s.df, "text")
                .select("doc_id", "n_words", "quality_score")
                .toPandas()
            )

        return run, check, len(s.frame)

    def _tfidf_doc_similarity(self, s: Sample):
        from pandas_db_sdk_spark import text

        want = _top_tfidf_cosines(s.frame, SIM_K)

        def check(pdf):
            got = np.sort(pdf["cos_sim"].to_numpy())[::-1]
            if len(got) != len(want) or not np.allclose(got, want, rtol=0, atol=2e-6):
                return "tfidf_doc_similarity top-k differs from the reference"
            return None

        run = lambda: text.tfidf_doc_similarity(s.df, "doc_id", "text", k=SIM_K).toPandas()  # noqa: E731
        return run, check, len(s.frame)

    def _cosine_topk_bruteforce(self, qids):
        from pyspark.sql import functions as F

        from pandas_db_sdk_spark import similarity

        spark = self.ctx.spark
        corpus = spark.read.parquet(self.emb_path)
        queries = corpus.filter(F.col("vec_id").isin([int(q) for q in qids]))
        unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        rows = unit[np.searchsorted(self.vec_ids, qids)]
        want = {
            int(q): np.sort(np.round(r, 6))[::-1][:TOPK_K] for q, r in zip(qids, rows @ unit.T)
        }

        def check(pdf):
            for q, ref in want.items():
                got = np.sort(pdf.loc[pdf["query_id"] == q, "cos"].to_numpy())[::-1]
                if len(got) != len(ref) or not np.allclose(got, ref, rtol=0, atol=1e-5):
                    return f"cosine top-{TOPK_K} for query {q} differs from numpy"
            return None

        def run():
            return similarity.cosine_topk_bruteforce(
                queries, corpus, "vec_id", "vec_id", k=TOPK_K
            ).toPandas()

        return run, check, len(self.vec_ids)

    # ---------------------------------------------------------- metrics

    def final_check(self) -> dict:
        return {}

    def details(self, records) -> dict:
        return {}

    def recall(self) -> float:
        return self.found / self.injected if self.injected else 0.0


def _top_tfidf_cosines(frame: pd.DataFrame, k: int) -> np.ndarray:
    """The ``k`` largest pairwise TF-IDF cosines, by the rule
    ``text.tfidf_doc_similarity`` documents: whitespace tokens, terms in
    more than half the documents dropped, idf = ln(N/df) rounded to 6 dp,
    weight = tf * idf, cosine rounded to 6 dp."""
    toks = frame[["doc_id"]].assign(tok=frame["text"].str.split(" ")).explode("tok")
    tf = toks.groupby(["doc_id", "tok"]).size().rename("tf").reset_index()
    n = len(frame)
    dfreq = tf.groupby("tok").size()
    idf = np.round(np.log(n / dfreq[dfreq <= 0.5 * n]), 6)
    tf = tf[tf["tok"].isin(idf.index)]
    docs = {d: i for i, d in enumerate(frame["doc_id"])}
    vocab = {t: i for i, t in enumerate(idf.index)}
    m = np.zeros((n, len(vocab)))
    m[tf["doc_id"].map(docs).to_numpy(), tf["tok"].map(vocab).to_numpy()] = (
        tf["tf"].to_numpy() * idf.loc[tf["tok"]].to_numpy()
    )
    norms = np.linalg.norm(m, axis=1)
    gram = m @ m.T
    iu = np.triu_indices(n, 1)
    dots = gram[iu]
    shared = dots > 0
    cos = np.round(dots[shared] / (norms[iu[0]][shared] * norms[iu[1]][shared]), 6)
    return np.sort(cos)[::-1][:k]

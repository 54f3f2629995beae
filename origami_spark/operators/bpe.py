"""Distributed BPE tokenizer training + encoding, dependency-free.

Byte-pair-encoding subword vocabularies (Sennrich, Haddow, Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units", ACL —
public; the GPT-2/RoBERTa tokenizer recipe) are TRAINED on the corpus a
pipeline ships: count words, view each word as a symbol sequence
(chars + an end-of-word marker), and repeatedly merge the most frequent
adjacent symbol pair.  An engine that curates pretraining data should
also train the tokenizer from it — this module is that step.

Scale design: training never leaves the WORD-COUNT table — one
wordcount-shaped shuffle builds it (bounded by distinct words, not
corpus tokens), and each merge round is (a) one pair-count aggregate
over that table (map-side combine; the pair space is bounded by total
symbol transitions), (b) a driver-side pick of its top pair (top-k
via TakeOrderedAndProject — no global sort), and (c) a pure-Catalyst
left-to-right fold that rewrites the symbol arrays with that pair (no
Python).  The word table is locally checkpointed each round (the
connected-components recipe) so the plan does not nest ``n_merges``
aggregates.  Encoding is a ``mapInPandas`` Arrow kernel (the sanctioned
Python surface) applying the staged merges in rank order with a
per-batch word cache — the corpus is never shuffled to encode.

Determinism: pair selection breaks ties by (count DESC, left ASC,
right ASC), the fold is left-to-right greedy (the reference
implementation's order), and encoding is a pure function of (merges,
word) — reproducible across runs, partitionings, and re-trainings of
an identical corpus.  Training itself is not SQL-expressible
(iterative argmax-dependent rewrites), so the driver query for this
family is a rows-only row in the correctness gate; exactness is pinned
by pytest against a pure-Python reference implementation instead
(tests/test_bpe.py).

Reference parity note: origami ships trained OCR models rather than
training them (``batch/detect/ocr.py`` loads Calamari/Tesseract); the
training-side analog in this graft is tokenizer induction, the
standard corpus-coupled trainable artifact of a text pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col

__all__ = ["word_counts", "bpe_train", "bpe_merges_df", "bpe_encode"]

# classic end-of-word marker (Sennrich et al.); chosen outside the
# tokenizer's [a-z0-9] alphabet so it can never collide with a symbol
EOW = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """The corpus word-frequency table ``(word, n)`` — one
    wordcount-shaped shuffle, bounded by DISTINCT words."""
    return (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(symbols array<string>, n): each word split into single chars
    with the end-of-word marker appended."""
    return words.select(
        F.concat(F.split("word", ""), F.array(F.lit(EOW))).alias("symbols"),
        "n",
    )


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies, weighted by word count.  NB a pair
    occurring twice in one word counts twice — the reference
    implementation's statistic."""
    pairs = sym.select(
        "n",
        F.explode(
            F.when(
                F.size("symbols") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("symbols") - 1),
                    lambda i: F.struct(
                        F.element_at("symbols", i.cast("int")).alias("left"),
                        F.element_at("symbols", (i + 1).cast("int"))
                        .alias("right"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<left:string,right:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(F.sum("n").alias("cnt"))


# pair-key separator for the merge's lookup map; outside every possible
# symbol alphabet (word chars [a-z0-9] + the EOW marker's '</w>' chars
# and their concatenations), so 'last SEP current' keys are unambiguous
_SEP = "\x1f"


def _merge_fold(a: str, b: str):
    """Left-to-right greedy merge of the pair ``(a, b)`` in ONE
    pure-Catalyst fold: running through the symbols once, replacing the
    accumulator's last element with ``a+b`` whenever ``(last,
    current)`` is the pair (a constant-map lookup).  After a
    replacement the new last element is the concatenation, so
    overlapping occurrences — 'aaa' under (a,a) — resolve exactly like
    the serial reference: [aa, a]."""
    mapping = F.create_map(F.lit(a + _SEP + b), F.lit(a + b))
    sep = F.lit(_SEP)

    def step(acc, s):
        key = F.concat(F.element_at(acc, -1), sep, s)
        merged = F.try_element_at(mapping, key)
        return F.when(
            (F.size(acc) > 0) & merged.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        F.col("symbols"), F.array().cast("array<string>"), step)


def bpe_train(docs: DataFrame, n_merges: int = 200) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    ranked merge list ``[(left, right), ...]`` — exactly the serial
    Sennrich et al. sequence, pinned against the pure-Python reference.
    Stops early when the best remaining pair's weighted count falls
    below 2 (merging hapax pairs memorizes the corpus).  Each round:
    one bounded pair-count aggregate, a driver-side pick of its top
    pair (TakeOrderedAndProject — no global sort), one Catalyst fold
    rewrite, one local checkpoint — the iterative-trainer shape shared
    with ``similarity.train_ivf_centroids``.  The scale recipe (train
    on a hash-sampled corpus slice with ``sampling.hash_sample``,
    encode everything) composes with it."""
    sym = _initial_symbols(word_counts(docs))
    sym = sym.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        top = (
            _pair_counts(sym)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .first()
        )
        if top is None or top["cnt"] < 2:
            break
        merges.append((top["left"], top["right"]))
        sym = sym.select(_merge_fold(top["left"], top["right"])
                         .alias("symbols"), "n") \
            .localCheckpoint(eager=True)
    return merges


def bpe_merges_df(spark, merges) -> DataFrame:
    """The staged-artifact form: ``(rank int, left, right)`` — rank is
    the merge priority (0 = learned first)."""
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _encode_word(word: str, ranks: dict) -> list[str]:
    """Reference BPE apply: repeatedly merge the best-ranked adjacent
    pair present in the word until none applies (the standard serial
    algorithm — identical output to replaying the merges in rank order
    because each replay step IS 'merge every occurrence of that
    pair')."""
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        a, b = best
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(docs: DataFrame, merges_df: DataFrame) -> DataFrame:
    """Encode documents with a trained merge table: returns
    ``(doc_id, n_words bigint, n_bpe_tokens bigint, bpe_per_word
    double)``.  The merges collect to the driver (n_merges rows) and
    ship inside a ``mapInPandas`` kernel that tokenizes with the SAME
    regex as ``text.tokens_col`` and applies the reference BPE per
    word with a per-batch word cache (web text repeats words heavily,
    so the cache turns the per-word loop into a dict hit).  Zero-token
    docs emit ``n_words = n_bpe_tokens = 0`` (encoding is total — no
    evidence rule needed, unlike the score operators)."""
    import re

    ranks = {
        (r["left"], r["right"]): int(r["rank"])
        for r in merges_df.collect()
    }
    token_re = re.compile("[^a-z0-9]+")
    out_schema = ("doc_id bigint, n_words bigint, n_bpe_tokens bigint, "
                  "bpe_per_word double")

    def kernel(batches):
        import pandas as pd

        cache: dict = {}

        def count(word: str) -> int:
            got = cache.get(word)
            if got is None:
                got = len(_encode_word(word, ranks))
                cache[word] = got
            return got

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in token_re.split((text or "").lower()) if w]
                n_bpe = sum(count(w) for w in words)
                rows.append((doc_id, len(words), n_bpe,
                             n_bpe / len(words) if words else 0.0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_bpe_tokens",
                               "bpe_per_word"])

    return docs.select("doc_id", "text").mapInPandas(kernel, out_schema)

"""Deterministic byte-pair-encoding (BPE) tokenizer family — round-9
verdict #1: upgrade every token-budget operator from whitespace proxies to
REAL subword tokens.

The model is the classic Sennrich et al. (2016) BPE trained on a
word-frequency table, with tiktoken-style greedy application, made fully
deterministic so the learned merge table golden-pins per tier and token
application replays EXACTLY in the DuckDB oracle (a recursive CTE applies
the committed merge table longhand — model parameters pinned, application
re-derived cross-engine).

Determinism contract (every tie broken totally):
  pre-tokenize   Python str.split() semantics — the repo's pinned
                 ``(?U)[\\s\\x1c-\\x1f]+`` class (operators/dedup.py:983),
                 empties dropped; merges never cross word boundaries; no
                 end-of-word marker (documented simplification — the corpus
                 carries no punctuation to disambiguate).
  train          word-frequency table capped to the ``max_words`` most
                 frequent words, ties by word ASC (binary order); each
                 round learns the adjacent pair with the HIGHEST total
                 frequency, ties by pair (left, right) ASC, then merges
                 ALL its occurrences left-to-right in the training words.
  encode         tiktoken semantics: repeatedly merge the SINGLE leftmost
                 occurrence of the lowest-rank adjacent pair until no
                 adjacent pair is in the merge table. (This differs from
                 merge-all-occurrences batching on adversarial inputs —
                 e.g. merges [("ab","a"),("a","b")] on "abab" — and the
                 one-surgery-per-step form is what a SQL recursive CTE
                 replays naturally; the divergence case is pinned in
                 tests/test_bpe.py.)
  token ids      a fixed BYTE lane occupies ids 0..255 (round-10: byte-level
                 fallback, the GPT-2/tiktoken property that NOTHING is UNK);
                 base characters (sorted, over ALL distinct corpus words —
                 the cap only limits TRAINING) get ids 256..256+B-1; the
                 token string created by merge rank r gets id 256+B+r; if
                 two merges produce the same string the EARLIEST id wins. A
                 symbol unseen at train time encodes as its UTF-8 bytes —
                 one token per byte, id == byte value — so a frozen vocab
                 tokenizes fresh crawl deterministically and token budgets
                 never miscount on unseen characters.

Scale shape (the whole point of the factoring): the expensive Python work —
training and per-word greedy encoding — runs once per DISTINCT WORD, never
per occurrence. Training collects only the capped word-frequency table to
the driver (a model artifact, like the IVF coarse quantizer's sampled
centroids); encoding runs as one Arrow-batched ``mapInPandas`` over the
distinct-word table and broadcast-joins back to the exploded corpus, so a
100 TB corpus pays JVM-side explode/join/window costs while Python touches
only the vocabulary. The reference never tokenizes (HttpWriter.kt:75 treats
payloads as opaque); this generalizes the engine's "BPE-ish regex" token
counting (queries/llm.py) into a real trained tokenizer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import plan_memo

# Python str.split() separator semantics for the JVM: (?U) makes \s the
# Unicode White_Space set; \x1c-\x1f adds the C0 separators str.split()
# also breaks on. Same class the SimHash JVM plan pins (dedup.py:983).
PY_SPLIT_WS_JAVA = r"(?U)[\s\x1c-\x1f]+"

# ids 0..255 are the byte-fallback lane: a train-time-unseen symbol encodes
# as its UTF-8 bytes (id == byte value), so every input is encodable — the
# property real tokenizers (GPT-2/tiktoken lineage) guarantee. Base chars
# and merge products start at BYTE_VOCAB.
BYTE_VOCAB = 256

__all__ = [
    "PY_SPLIT_WS_JAVA",
    "BYTE_VOCAB",
    "BROADCAST_MAX_WORDS",
    "BpeModel",
    "word_frequencies",
    "train_bpe",
    "encode_word",
    "encode_distinct_words",
    "join_encoded_words",
    "bpe_tokenize",
    "save_bpe_model",
    "load_bpe_model",
]


@dataclass(frozen=True)
class BpeModel:
    """A trained BPE tokenizer: ordered merge list + base character vocab.

    ``merges[r]`` is the pair learned at rank r. ids 0..255 are the fixed
    byte-fallback lane; ``base_vocab`` is the sorted distinct-character list
    token ids 256..256+B-1 map to; merge rank r's token string gets id
    256+B+r (earliest id wins on duplicate strings)."""

    merges: tuple[tuple[str, str], ...]
    base_vocab: tuple[str, ...]
    _ranks: dict = field(default=None, compare=False, repr=False)
    _ids: dict = field(default=None, compare=False, repr=False)

    @property
    def ranks(self) -> dict[tuple[str, str], int]:
        if self._ranks is None:
            object.__setattr__(
                self, "_ranks", {p: r for r, p in enumerate(self.merges)}
            )
        return self._ranks

    @property
    def token_ids(self) -> dict[str, int]:
        """Token string -> id. The byte lane reserves 0..255; base chars
        next (sorted), then merge products in rank order; setdefault keeps
        the EARLIEST id when a later merge reproduces an existing token
        string."""
        if self._ids is None:
            ids: dict[str, int] = {}
            for i, c in enumerate(self.base_vocab):
                ids[c] = BYTE_VOCAB + i
            b = BYTE_VOCAB + len(self.base_vocab)
            for r, (l, rgt) in enumerate(self.merges):
                ids.setdefault(l + rgt, b + r)
            object.__setattr__(self, "_ids", ids)
        return self._ids

    def encode_word(self, word: str) -> list[str]:
        return encode_word(word, self.ranks)

    def encode_word_ids(self, word: str) -> list[int]:
        """Token ids with byte-level fallback: a symbol unseen at train time
        (always a single character — merge products are by construction in
        the vocab) expands to its UTF-8 bytes, id == byte value. Every
        input is encodable; nothing is UNK."""
        ids = self.token_ids
        out: list[int] = []
        for t in self.encode_word(word):
            i = ids.get(t)
            if i is not None:
                out.append(i)
            else:
                out.extend(t.encode("utf-8"))
        return out

    def decode_ids(self, token_ids: list[int]) -> str:
        """Inverse of encode_word_ids: vocab ids map through the token
        table; byte-lane ids (< 256) re-assemble as UTF-8 bytes. Encoding
        then decoding reproduces the word exactly (tests/test_bpe.py)."""
        rev = {i: t for t, i in self.token_ids.items()}
        buf: list[bytes] = []
        for i in token_ids:
            if i < BYTE_VOCAB:
                buf.append(bytes([i]))
            else:
                buf.append(rev[i].encode("utf-8"))
        return b"".join(buf).decode("utf-8")


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — one distributed explode + groupBy
    (partial aggregation map-side; the result is vocabulary-sized)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), PY_SPLIT_WS_JAVA)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def train_bpe(
    spark,
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 60,
    max_words: int = 100_000,
) -> BpeModel:
    """Train a deterministic BPE merge table on the corpus.

    Distributed part: the word-frequency aggregation and the distinct
    base-character set (both vocabulary-sized outputs). Driver part: the
    merge loop over the capped word table — O(max_words · avg_len) per
    merge, corpus-size-INDEPENDENT, the same control-plane footprint as
    sample-trained IVF centroids. ``max_words`` is the honest scale dial:
    real trainers cap or sample the word table too; the cap takes the most
    frequent words (ties by word ASC) so it is deterministic at any scale.
    """
    # materialize the word-frequency table ONCE: both the base-vocab char
    # aggregate and the capped top-K collect consume it, and an unmaterialized
    # plan would re-run the full corpus explode+groupBy for each
    wf = word_frequencies(docs, text_col).localCheckpoint()
    # base vocab from ALL words (cheap distinct-char agg), training from the
    # capped table — encode never meets an unknown char from its own corpus
    base = sorted(
        r["c"]
        # (?!^) splits between every char; Spark's split keeps a TRAILING
        # empty (limit=-1 semantics), so filter '' out
        for r in wf.select(F.explode(F.split("word", "(?!^)")).alias("c"))
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    )
    capped = [
        (r["word"], int(r["freq"]))
        for r in wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words).collect()
    ]
    words = [(list(w), f) for w, f in capped]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        # highest total frequency; ties by pair ASC — a total order
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        merged = a + b
        for k, (syms, f) in enumerate(words):
            if len(syms) < 2:
                continue
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[k] = (out, f)
    return BpeModel(merges=tuple(merges), base_vocab=tuple(base))


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """tiktoken-style greedy application: one surgery per step — merge the
    LEFTMOST occurrence of the lowest-rank adjacent pair, rescan, stop when
    no adjacent pair is ranked. Pure function of (word, ranks); the DuckDB
    oracle replays exactly this loop as a recursive CTE."""
    parts = list(word)
    while len(parts) > 1:
        best_rank = None
        best_i = None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i  # strict < keeps the leftmost on tie
        if best_i is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


# broadcast the encoded distinct-word table only below this many distinct
# words (~100 bytes/row → ~200 MB at the cap — inside executor memory with
# headroom). Real web corpora have 1e8–1e9 distinct whitespace tokens (URLs,
# typos, numbers): broadcasting that is the round-9 verdict's named
# scale-killer, so above the cap the word join runs as a keyed shuffle
# (vocabulary-sized build side, corpus-sized probe side — the standard
# shape; AQE still picks shuffled-hash with the small side as build).
BROADCAST_MAX_WORDS = 2_000_000


def _distinct_word_count(dw: DataFrame) -> int:
    """Distinct-word count that picks broadcast vs shuffle word joins,
    memoized per logical plan (decision-only: both join forms are
    result-identical)."""
    return plan_memo("bpe.word_stats", dw, dw.count)


def join_encoded_words(
    big: DataFrame,
    small: DataFrame,
    broadcast_max_words: int = BROADCAST_MAX_WORDS,
    n_words: int | None = None,
    key: str = "word",
) -> DataFrame:
    """Join a corpus-sized table back to its VOCABULARY-sized companion
    (encoded words, term document-frequencies, …), routing
    broadcast-vs-shuffle on the distinct-key COUNT (a count-only stats
    pass, memoized per plan). ``small`` must carry ``key``; ``big`` never
    broadcasts. The single place the routing policy lives — every
    vocabulary-sized join (BPE encode-back, roundtrip, TF-IDF df) calls
    this."""
    if n_words is None:
        n_words = _distinct_word_count(big.select(key).distinct())
    if n_words <= broadcast_max_words:
        return big.join(F.broadcast(small), key)
    # force the shuffle-hash form (vocab side builds the per-partition map):
    # Catalyst's size estimate of a mapInPandas output derives from the
    # (often tiny) input estimate and can't see the encode fan-out, so with
    # no hint it may still pick a broadcast our count-based model just ruled
    # out — measured doing exactly that on the 3e6-word tier (bpe_scale.py)
    return big.join(small.hint("shuffle_hash"), key)


def encode_distinct_words(dw: DataFrame, model: BpeModel) -> DataFrame:
    """Encode a distinct-word DataFrame (column ``word``) → (word, ids
    array<long>) in ONE Arrow-batched ``mapInPandas`` — the only Python
    crossing of the tokenize family, O(vocabulary) not O(corpus).
    The encoding rule is exactly ``BpeModel.encode_word_ids`` (the model is
    captured in the closure — one implementation of the byte-fallback
    contract, driver and executors can never disagree)."""
    enc = model.encode_word_ids

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"word": pdf["word"], "ids": [enc(w) for w in pdf["word"]]}
            )

    return dw.mapInPandas(_encode, "word string, ids array<long>")


def bpe_tokenize(
    spark,
    docs: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_max_words: int = BROADCAST_MAX_WORDS,
) -> DataFrame:
    """Tokenize the corpus with a trained model → (id_col, token_ids
    array<long>, n_tokens long).

    Plan: posexplode the whitespace words (JVM), encode each DISTINCT word
    once in an Arrow-batched ``mapInPandas`` (the only Python crossing —
    O(vocabulary), not O(corpus)), join the word→ids table back —
    BROADCAST below ``broadcast_max_words`` distinct words, keyed SHUFFLE
    above (the distinct-word table of a web-scale corpus is 1e8–1e9 rows;
    an unguarded broadcast OOMs exactly at the scale this engine targets) —
    then reassemble per document with sort_array(collect_list(struct)) —
    order restored by word position, no global sort. NULL text stays NULL
    (token_ids NULL, n_tokens NULL); token-less text (empty/whitespace)
    yields an empty array and n_tokens 0 — the SimHash family's NULL
    contract. Train-time-unseen symbols encode as UTF-8 byte tokens
    (ids < 256) — every input is encodable."""
    wpos = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), PY_SPLIT_WS_JAVA)).alias("wpos", "word"),
    ).filter(F.col("word") != "")
    # checkpoint the distinct-word table so the routing stats pass and the
    # join consume ONE corpus explode+distinct, not two (the checkpoint is
    # vocabulary-sized; eager=False materializes on the count)
    dw = wpos.select("word").distinct().localCheckpoint(eager=False)
    n_words = _distinct_word_count(dw)
    encoded = encode_distinct_words(dw, model)
    assembled = (
        join_encoded_words(wpos, encoded, broadcast_max_words, n_words=n_words)
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("wpos", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("token_ids")
        )
    )
    has_text = F.col(text_col).isNotNull()
    return (
        docs.select(id_col, text_col)
        .join(assembled, id_col, "left")
        .select(
            id_col,
            F.when(
                has_text, F.coalesce("token_ids", F.array().cast("array<long>"))
            ).alias("token_ids"),
            F.when(has_text, F.coalesce(F.size("token_ids"), F.lit(0)))
            .cast("long")
            .alias("n_tokens"),
        )
    )


def save_bpe_model(spark, model: BpeModel, path: str) -> None:
    """Persist the trained tokenizer as parquet (merges ranked + base chars
    indexed) — the FROZEN-VOCAB artifact a reproducible pipeline versions
    alongside its dedup indexes: token budgets, packing boundaries, and
    digests stay comparable across runs only if every run tokenizes with
    the same merges.

    TORN-SAVE protection (marker-last protocol): the ``_MODEL_OK`` marker is
    deleted FIRST and re-written LAST with the expected table sizes, so a
    crash between the two parquet writes — which would otherwise pair new
    merges with an old base vocab and silently shift every token id —
    leaves a marker-less (or size-mismatched) model that load_bpe_model
    refuses loudly."""
    import json as _json
    import os as _os

    marker = _os.path.join(path, "_MODEL_OK")
    if _os.path.exists(marker):
        _os.remove(marker)
    merges = spark.createDataFrame(
        [(r, l, rt) for r, (l, rt) in enumerate(model.merges)] or [(-1, "", "")],
        "rank long, left_sym string, right_sym string",
    )
    base = spark.createDataFrame(
        list(enumerate(model.base_vocab)), "id long, ch string"
    )
    merges.coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    base.coalesce(1).write.mode("overwrite").parquet(f"{path}/base")
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"n_merges": len(model.merges), "n_base": len(model.base_vocab)}, fh)
    _os.replace(tmp, marker)


def load_bpe_model(spark, path: str) -> BpeModel:
    """Inverse of save_bpe_model: rebuild the exact model (merge ORDER from
    rank, base vocab from id order); encodings are bit-identical to the
    trained original (pinned in tests/test_bpe.py). Refuses a torn save
    (missing/mismatched ``_MODEL_OK`` marker)."""
    import json as _json
    import os as _os

    marker = _os.path.join(path, "_MODEL_OK")
    if not _os.path.exists(marker):
        raise ValueError(
            f"no _MODEL_OK marker under {path!r}: the model save did not "
            "complete (a torn save could pair new merges with an old base "
            "vocab and silently shift every token id) — re-save the model"
        )
    with open(marker) as fh:
        expect = _json.load(fh)
    mrows = spark.read.parquet(f"{path}/merges").collect()
    merges = tuple(
        (r["left_sym"], r["right_sym"])
        for r in sorted(mrows, key=lambda r: r["rank"])
        if r["rank"] >= 0
    )
    brows = spark.read.parquet(f"{path}/base").collect()
    base = tuple(r["ch"] for r in sorted(brows, key=lambda r: r["id"]))
    if len(merges) != expect["n_merges"] or len(base) != expect["n_base"]:
        raise ValueError(
            f"model tables under {path!r} do not match the _MODEL_OK marker "
            f"(expected {expect}, found n_merges={len(merges)} "
            f"n_base={len(base)}): torn or tampered save — re-save the model"
        )
    return BpeModel(merges=merges, base_vocab=base)

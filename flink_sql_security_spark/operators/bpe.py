"""Distributed BPE tokenizer training and encoding.

The missing piece between corpus cleaning and token-budget operators: a
vocabulary actually TRAINED on the corpus. Classic byte-pair encoding
(Sennrich et al. 2016) over whitespace words:

- **Training is two-phase, sized to the VOCABULARY, not the corpus**:
  one distributed word-frequency aggregation (the only corpus-scale
  shuffle — map-side combined, capped by ``min_freq``/``max_vocab``),
  then the merge loop runs driver-side over the collapsed (word, freq)
  table — exactly how production BPE trainers work, since pair counts
  are a function of the word-frequency dict alone. At 100 TB the
  word-freq table is still ~10⁶ rows; the corpus is never re-scanned
  per merge.
- **Encoding is narrow, JVM-side, zero-shuffle**: the token stream is a
  string with every token carrying a two-space trailer
  (``"t  h  e  </w>  "``); applying merge (x, y) is ONE builtin
  ``replace(s, 'x  y  ', 'xy  ')`` — leftmost non-overlapping
  replace-all, bit-identical in Spark and DuckDB (verified: the
  double-space trailer makes token boundaries unambiguous without
  regex lookarounds, which DuckDB's RE2 lacks). Each merge applies in
  one pass, left to right — equal to greedy BPE encoding except for
  self-feeding merges (a merge whose output immediately re-forms its
  own input pair), which both engines treat identically.

Determinism: ties in pair frequency break lexicographically; the merge
list is therefore a pure function of the corpus, and the DuckDB oracle
re-derives it with ``oracles.bpe.bpe_train_replica`` (same algorithm over the
same parquet) and embeds the merges as literals — the kmeans/IVF
oracle pattern.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

END = "</w>"


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    pc: Counter = Counter()
    for syms, freq in vocab.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += freq
    return pc


def train_from_word_freqs(word_freqs: list[tuple[str, int]],
                           n_merges: int) -> list[tuple[str, str]]:
    """The shared driver-side merge loop (Spark path and oracle replica
    both call this — parity by construction)."""
    vocab = {tuple(list(w) + [END]): f for w, f in word_freqs if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc = _pair_counts(vocab)
        if not pc:
            break
        # deterministic: highest freq, then lexicographically SMALLEST pair
        top = max(pc.values())
        if top < 2:
            break
        pair = min(p for p, f in pc.items() if f == top)
        merges.append(pair)
        joined = pair[0] + pair[1]
        nxt = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and syms[i] == pair[0] and syms[i + 1] == pair[1]):
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + freq
        vocab = nxt
    return merges


def bpe_train(df: DataFrame, text_col: str = "text", n_merges: int = 32,
              min_freq: int = 2, max_vocab: int = 200_000) -> list[tuple[str, str]]:
    """Train merges on a corpus DataFrame: one word-count shuffle, then
    the driver-side loop over the (word, freq) table."""
    wf = (
        df.select(F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                    r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("f"))
        .where(F.col("f") >= min_freq)
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(max_vocab)
        .collect()
    )
    return train_from_word_freqs([(r["w"], r["f"]) for r in wf], n_merges)


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _stream_expr_spark(text_col: str) -> str:
    # word → "c1  c2  ...  </w>  " (two-space trailer per token)
    enc = ("concat(concat_ws('', transform(split(w, ''), "
           "c -> concat(c, '  '))), '</w>  ')")
    return (f"concat_ws('', transform("
            f"split(lower(trim({text_col})), '\\\\s+'), "
            f"w -> CASE WHEN w = '' THEN '' ELSE {enc} END))")


def apply_merges(stream_expr: str, merges: list[tuple[str, str]]) -> str:
    s = stream_expr
    for a, b in merges:
        s = (f"replace({s}, '{_sq(a)}  {_sq(b)}  ', "
             f"'{_sq(a + b)}  ')")
    return s


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, token_fp): BPE token count + md5 fingerprint of the
    encoded stream under ``merges``. Narrow per-row work — the merge
    chain is builtin ``replace`` calls, fully codegen, no shuffle."""
    from .skew import spread_partitions

    s = apply_merges(_stream_expr_spark(text_col), merges)
    # the unrolled replace chain is the heavy narrow kernel over a
    # 1-task single-row-group scan — spread small inputs (no-op at
    # corpus scale)
    return spread_partitions(df, key_col=id_col).select(
        F.col(id_col),
        F.expr(f"CAST((length({s}) - length(replace({s}, '  ', ''))) / 2 "
               f"AS BIGINT)").alias("n_tokens"),
        F.expr(f"md5({s})").alias("token_fp"),
    )

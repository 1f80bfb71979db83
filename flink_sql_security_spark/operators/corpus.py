"""End-to-end corpus cleaning: the composed training-data pipeline.

The flagship composition of the pipeline operators — what a 100 TB
pretraining-data job actually runs: language gate → quality gate → exact
dedup → near-dup removal → per-doc token stats. Every stage is a
DataFrame transform from this package (functions/text.py, operators/
dedup.py), so the whole pipeline stays declarative: Catalyst sees one
plan and prunes/pushes across stage boundaries (e.g. the language and
quality gates reach the parquet scan before any shingling happens).

Scale shape (per stage, n docs surviving to that point):
- gates: narrow projections, no shuffle, fully codegen
- exact dedup: one groupBy(md5) shuffle of (hash, id) pairs
- near-dup: shingle self-join on hashed shingles (operators/dedup.py
  notes) — the only super-linear stage; swap `ngram_jaccard_pairs` for
  `minhash_lsh_candidate_pairs` above ~10⁷ docs
- stats: narrow projection

Near-dup removal rule: a doc is dropped when it is similar (jaccard ≥
threshold) to ANY lower-id doc — deterministic, order-independent, and
expressible as an anti-join (no iterative connected components). This
keeps exactly the canonical (lowest-id) member of every similarity
cluster chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions import text as T
from flink_sql_security_spark.operators import cache
from flink_sql_security_spark.operators import dedup as D


def clean_corpus(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", lang: str = "en",
                 min_quality: float = 0.3,
                 jaccard_threshold: float = 0.5,
                 materialize: bool = True) -> DataFrame:
    """(doc_id, lang_pred, quality, n_words, n_bpe) for surviving docs.

    ``materialize`` caches the gated+deduped stage: downstream the
    near-dup join references it three times and the final projection a
    fourth — without materialization Catalyst re-evaluates the regex
    gates per reference. persist(), not localCheckpoint(): the cache
    fills inside the first consuming action instead of launching a
    separate blocking job up front (measured ~1.5s saved at sf0.1).
    This is the standard super-stage boundary of a multi-stage pipeline
    (at cluster scale the same role is played by writing the stage to
    parquet).
    """
    from .skew import pushdown_barrier, spread_partitions

    text = F.col(text_col)
    # the lang-id + quality regex gates are the expensive narrow kernel
    # and a single-row-group corpus file scans as ONE task — spread
    # small inputs across cores (conditional; no-op at corpus scale).
    # The pushdown barrier pins the gate evaluation ABOVE the spread:
    # without it the keep-filter inlines both regex gates and pushes
    # them below the exchange, re-running them serially on the scan
    # (the debezium-decode lesson — same pattern).
    df = spread_partitions(df, key_col=id_col)
    gated = pushdown_barrier(
        df.select(F.col(id_col), text,
                  T.lang_id(text).alias("lang_pred"),
                  T.quality_score(text).alias("quality"))
    ).where((F.col("lang_pred") == lang)
            & (F.col("quality") >= min_quality))
    deduped = D.exact_dedup(gated, text_col, id_col)
    handles = []
    if materialize:
        deduped = deduped.persist()
        handles.append(deduped)
    near = D.ngram_jaccard_pairs(deduped, text_col, id_col,
                                 threshold=jaccard_threshold)
    handles.extend(cache.cached_deps(near))
    drop = near.select(F.col("id_b").alias(id_col)).distinct()
    return cache.attach(
        deduped.join(drop, on=id_col, how="left_anti")
        .select(F.col(id_col), "lang_pred", "quality",
                T.word_count(text).alias("n_words"),
                T.bpe_token_count(text).alias("n_bpe")),
        *handles)


def chunk_tokens(df: DataFrame, size: int = 128, stride: int = 96,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split each document into fixed-size overlapping token chunks:
    (id, chunk_i, n_tokens, chunk_text) — the context-window slicing that
    turns cleaned documents into training samples (stride < size gives
    overlap; stride = size gives disjoint chunks; the tail chunk keeps
    its natural shorter length).

    The inverse-shaped twin of ``operators/packing.pack_sequences``:
    packing concatenates short docs up to a budget, chunking splits long
    docs down to one. Purely narrow per-row work — tokenize once, compute
    the start offsets with ``sequence``, slice per start, ``posexplode``.
    No shuffle at any scale; Catalyst pushes upstream filters below the
    generator.
    """
    from .skew import spread_partitions

    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    out = (
        spread_partitions(df, key_col=id_col)
        .where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_tk"))
        .select(
            F.col(id_col),
            F.expr(
                f"transform(sequence(0, size(_tk) - 1, {stride}), "
                f"s -> concat_ws(' ', slice(_tk, s + 1, {size})))"
            ).alias("_chunks"))
        .select(F.col(id_col),
                F.posexplode("_chunks").alias("chunk_i", "chunk_text"))
    )
    return out.select(
        F.col(id_col), F.col("chunk_i"),
        F.size(F.split(F.col("chunk_text"), r"\s+")).alias("n_tokens"),
        "chunk_text")


def fim_transform(df: DataFrame, rate: float = 0.5,
                  text_col: str = "text", id_col: str = "doc_id",
                  pre_tok: str = "<PRE>", suf_tok: str = "<SUF>",
                  mid_tok: str = "<MID>", salt: str = "fim") -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022, PSM format):
    for a deterministic ``rate`` fraction of documents, pick two hash-
    derived token split points and emit
    ``<PRE> prefix <SUF> suffix <MID> middle``; the rest pass through.

    Returns (id, fim_applied, n_prefix, n_middle, n_suffix, fim_text).
    Everything is content-hash arithmetic — the selection, both split
    points, and therefore the emitted string are independent of
    partitioning and reproducible in any engine. Purely narrow per-row
    work: tokenize once, two integer draws, three slices. No shuffle at
    any scale. EVERY input row comes back out: empty/NULL documents are
    never FIM-selected and pass through with counts 0 (a transform must
    not change the corpus row count as a side effect), and non-selected
    rows come back with their ORIGINAL text untouched — NULL stays NULL,
    whitespace stays un-trimmed (trim/coalesce is internal tokenizer
    normalization for the FIM-applied branch only).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    # native-round-ok: driver-side Python, same literal in
    # both engines' plans
    gate = int(round(rate * 10_000))  # native-round-ok

    def h(tag: str) -> str:
        return (f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
                f"':{salt}-{tag}')), 1, 8), 16, 10) AS BIGINT)")

    txt = f"trim(coalesce({text_col}, ''))"
    toks = (
        df.select(F.col(id_col), F.col(text_col).alias("_orig"),
                  F.expr(txt).alias("_txt"),
                  F.expr(f"split({txt}, '\\\\s+')").alias("_tk"),
                  (F.expr(h("gate")) % 10_000 < gate).alias("_gate"))
        .withColumn("_n", F.expr("CASE WHEN _txt = '' THEN 0 "
                                 "ELSE size(_tk) END"))
        .withColumn("fim_applied", F.expr("_gate AND _n > 0"))
        # p1 ∈ [0, n]; p2 ∈ [p1, n] — prefix [1..p1], middle (p1..p2],
        # suffix (p2..n]; empty parts are legal FIM corners
        .withColumn("_p1", F.expr(f"{h('p1')} % (_n + 1)"))
        .withColumn("_p2", F.expr(f"_p1 + {h('p2')} % (_n - _p1 + 1)"))
    )
    fim = (f"concat('{pre_tok} ', concat_ws(' ', slice(_tk, 1, _p1)), "
           f"' {suf_tok} ', concat_ws(' ', slice(_tk, _p2 + 1, _n - _p2)), "
           f"' {mid_tok} ', concat_ws(' ', slice(_tk, _p1 + 1, _p2 - _p1)))")
    return toks.select(
        F.col(id_col), "fim_applied",
        F.expr("CASE WHEN fim_applied THEN _p1 ELSE 0 END")
        .cast("long").alias("n_prefix"),
        F.expr("CASE WHEN fim_applied THEN _p2 - _p1 ELSE _n END")
        .cast("long").alias("n_middle"),
        F.expr("CASE WHEN fim_applied THEN _n - _p2 ELSE 0 END")
        .cast("long").alias("n_suffix"),
        F.expr(f"CASE WHEN fim_applied THEN {fim} "
               f"ELSE _orig END").alias("fim_text"),
    )


def chunk_sentences(df: DataFrame, budget: int = 128,
                    text_col: str = "text", id_col: str = "doc_id",
                    delim: str = ". ") -> DataFrame:
    """Sentence-boundary chunking: (id, chunk_id, n_sentences,
    n_tokens, chunk_text) — split each document at ``delim``
    boundaries (default sentence-ish ``". "``), then greedily assign
    consecutive sentences to ≤``budget``-token chunks so a chunk break
    NEVER lands mid-sentence. The RAG / pretraining chunker that
    preserves sentence integrity; the fixed-stride twin is
    :func:`chunk_tokens` (which cuts anywhere).

    Assignment rule (prefix-DIV): sentence i with exclusive running
    token total ``cum`` joins raw chunk ``cum DIV budget``; the output
    ``chunk_id`` is then DENSELY renumbered 0..n-1 per document
    (``dense_rank`` over the same partitioning — no extra exchange),
    so consumers can iterate contiguous ids even when a sentence
    longer than the budget straddles several budget multiples.
    Boundaries fall only at sentence edges, chunks are ≥1 sentence,
    and a chunk may exceed ``budget`` by at most the straddling
    sentence's length (the documented cost of never splitting a
    sentence; a single sentence longer than ``budget`` gets its own
    chunk). Token counts trim each sentence first — delimiter-adjacent
    whitespace never counts as a phantom token, and an empty segment
    (consecutive delimiters) counts 0. ``delim`` is treated as a
    LITERAL on both engines (regex-escaped before Spark's ``split``),
    so delimiters containing regex metacharacters are safe.
    Deterministic integer arithmetic end to end —
    partitioning-independent and strictly oracle-checkable.

    Scale shape: tokenize + per-sentence counts are narrow projections;
    ONE hash exchange on ``id`` feeds the running-total window, and the
    final (id, chunk_id) aggregation reuses that partitioning
    (HashPartitioning on a subset of the grouping keys satisfies the
    clustered distribution), so the whole operator is a single shuffle
    of (id, pos, sentence) rows at any corpus size. Chunk text
    re-concatenates with ``delim`` via an order-fixed fold (sorted
    struct array on Spark, ``ORDER BY pos`` string_agg in the oracle).
    """
    import re as _re

    from pyspark.sql.window import Window

    if budget < 1:
        raise ValueError(f"chunk_sentences budget must be >= 1: {budget}")
    if not delim:
        raise ValueError("chunk_sentences delim must be non-empty")
    # literal-delimiter contract: regex-escape for Spark's split (the
    # pattern goes to F.split directly — no SQL-literal round trip, so
    # quotes need no escaping); DuckDB's string_split is literal already
    from .skew import spread_partitions

    # spread BEFORE the tokenize/count projections: the id-hash
    # exchange the window needs anyway moves ahead of the heavy narrow
    # work, so the kernel parallelizes and the window re-uses the
    # partitioning — same exchange count (no-op at corpus scale)
    sent = (
        spread_partitions(df, key_col=id_col)
        .where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)),
                    _re.escape(delim)).alias("_s"))
        .select(F.col(id_col),
                F.posexplode("_s").alias("pos", "sentence"))
        # trim before counting: delimiter-adjacent whitespace is not a
        # token, and an empty segment has 0 tokens (split('') is [''])
        .withColumn(
            "t",
            F.when(F.trim(F.col("sentence")) == "", F.lit(0)).otherwise(
                F.size(F.split(F.trim(F.col("sentence")), r"\s+"))))
    )
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, -1))
    assigned = sent.withColumn(
        "cum", F.coalesce(F.sum("t").over(w), F.lit(0))
    ).withColumn(
        "raw_chunk",
        F.floor(F.col("cum") / F.lit(budget)).cast("int"))
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sentence"))),
            lambda x: x["sentence"]),
        delim)
    per_chunk = (assigned.groupBy(id_col, "raw_chunk")
                 .agg(F.count("*").alias("n_sentences"),
                      F.sum("t").alias("n_tokens"),
                      joined.alias("chunk_text")))
    # dense renumber: same id-partitioning as the window/agg above, so
    # Catalyst adds no exchange for this rank
    w_dense = Window.partitionBy(id_col).orderBy("raw_chunk")
    return (per_chunk
            .withColumn("chunk_id",
                        (F.dense_rank().over(w_dense) - 1).cast("int"))
            .select(id_col, "chunk_id", "n_sentences", "n_tokens",
                    "chunk_text"))


def chunk_content_defined(df: DataFrame, w: int = 3,
                          mask_bits: int = 4,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking: (id, chunk_id, n_tokens, chunk_text)
    — chunk boundaries fall where the rolling ``w``-gram hash of the
    token stream matches a mask (``hash % 2^mask_bits == 0``), the
    storage-dedup technique (Rabin/CDC) applied at token level. The
    third chunking mode next to fixed-stride :func:`chunk_tokens` and
    :func:`chunk_sentences`: boundaries depend ONLY on a local w-token
    window, so inserting or deleting text perturbs the chunks around
    the edit and leaves every later chunk's CONTENT byte-identical —
    the property that makes chunk-level exact dedup robust to small
    edits, where fixed-stride chunking re-shifts (and re-hashes) the
    whole tail. Expected chunk length is ``2^mask_bits`` tokens.

    Semantics: token j (0-based) ends a chunk when ``j >= w-1`` and
    the md5-derived integer of the w-gram ending at j is divisible by
    ``2^mask_bits``; each token's chunk is the count of boundaries
    strictly before it, so ids are dense 0..k by construction.
    ``chunk_text`` re-joins tokens with single spaces (a token-level
    transform — original inter-token whitespace is not preserved).

    Scale shape: identical to :func:`chunk_sentences` — the gram
    hashes and boundary flags compute INSIDE the token array (one
    narrow projection, no self-join, no per-position shuffle blowup),
    then ONE hash exchange on ``id`` feeds the prefix-count window and
    the (id, chunk_id) aggregation reuses that partitioning. md5 is
    the engine-portable hash everywhere in this package, so the op is
    strictly oracle-checkable.
    """
    from pyspark.sql.window import Window

    if w < 1:
        raise ValueError(f"chunk_content_defined w must be >= 1: {w}")
    if not 1 <= mask_bits <= 20:
        raise ValueError(
            f"chunk_content_defined mask_bits must be in [1, 20]: "
            f"{mask_bits}")
    m = 1 << mask_bits
    # clamp the slice start: positions j < w-1 never pass the boundary
    # guard, but vectorized engines may still EVALUATE the hash there
    # (no short-circuit) — an out-of-range slice must stay well-defined
    gram = f"concat_ws(' ', slice(_tk, greatest(j - {w - 2}, 1), {w}))"
    h = f"CAST(conv(substring(md5({gram}), 1, 15), 16, 10) AS BIGINT)"
    bounds = (f"transform(sequence(0, size(_tk) - 1), j -> "
              f"CASE WHEN j >= {w - 1} AND {h} % {m} = 0 "
              f"THEN 1 ELSE 0 END)")
    from .skew import spread_partitions

    # spread before the gram-hash projection (see chunk_sentences —
    # same single-exchange argument; no-op at corpus scale)
    sent = (
        spread_partitions(df, key_col=id_col)
        .where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col),
                F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_tk"))
        .select(F.col(id_col), F.col("_tk"),
                F.expr(bounds).alias("_b"))
        .select(F.col(id_col),
                F.posexplode(F.arrays_zip(F.col("_tk"), F.col("_b")))
                .alias("pos", "z"))
        .select(F.col(id_col), F.col("pos"),
                F.col("z._tk").alias("tok"),
                F.col("z._b").alias("b"))
    )
    win = (Window.partitionBy(id_col).orderBy("pos")
           .rowsBetween(Window.unboundedPreceding, -1))
    assigned = sent.withColumn(
        "chunk_id",
        F.coalesce(F.sum("b").over(win), F.lit(0)).cast("int"))
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda x: x["tok"]),
        " ")
    return (assigned.groupBy(id_col, "chunk_id")
            .agg(F.count("*").alias("n_tokens"),
                 joined.alias("chunk_text"))
            .select(id_col, "chunk_id", "n_tokens", "chunk_text"))


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Within-document duplicate-LINE removal, order-preserving: every
    repeated line after its first occurrence is dropped and the
    survivors re-join in original position order — the boilerplate
    scrub (repeated nav/footer/cookie banners) the RefinedWeb-class
    pipelines run between line filtering (c4_clean) and document-level
    dedup; cross-document exact/near dedup cannot see WITHIN-page
    repetition. ``normalize=True`` compares lines case/whitespace-
    folded (the fingerprint convention) while EMITTING the original
    line; False compares verbatim.

    Shape: posexplode → one (id, line-key) window for first-occurrence
    rank → position-ordered re-assembly — two exchanges ((id, key) for
    the window, id for the re-join; both carry only exploded lines),
    and every per-line operation is JVM expression work.
    Rows with NULL text are dropped on both engines (gate NULLs
    upstream — c4_clean/gopher already do). Output: (id, text) with
    the text column rewritten — drop-in for the pipeline position
    ``clean → dedup_lines → cross-doc dedup``.

    100 TB note: the explode multiplies rows by lines-per-doc but the
    exchange key stays the document id, so partitions hold whole
    documents and the window/agg pair pipelines in one stage; no skew
    beyond the largest single document.
    """
    from pyspark.sql.window import Window

    key = (T.fingerprint(F.col("_line")) if normalize
           else F.col("_line"))
    lines = (df.select(F.col(id_col), F.col(text_col))
             .select(id_col,
                     F.posexplode(F.split(F.col(text_col), "\n"))
                     .alias("_pos", "_line")))
    w = Window.partitionBy(id_col, "_key").orderBy("_pos")
    kept = (lines.withColumn("_key", key)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("_pos"), F.col("_line")))),
                    lambda s: s["_line"]),
                "\n").alias(text_col)))

"""Training-data pipeline operators: dedup, similarity, text, multimodal.

Oracle-grade equivalence runs in the driver harness (__spark_entry__); these
tests pin operator semantics on small controlled inputs.
"""

import math

import pytest
from pyspark.sql import Row, functions as F

from flink_sql_security_spark.functions import text as T
import oracles.text
from flink_sql_security_spark.operators import dedup as D
import oracles.dedup
from flink_sql_security_spark.operators import multimodal as M
from flink_sql_security_spark.operators import similarity as S
import oracles.similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (3, "THE  quick   brown fox jumps over the lazy dog"),       # ws/case dup
        (4, "the quick brown fox jumps over the lazy cat today"),    # near dup
        (5, "completely different words entirely unrelated text"),
        (6, "el perro y el gato de la casa que corre"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    groups = {r["keep_id"]: r["n_dups"]
              for r in D.exact_dedup_groups(docs).collect()}
    # 1,2,3 collapse (normalization folds case + whitespace)
    assert groups[1] == 3
    assert groups[4] == 1 and groups[5] == 1 and groups[6] == 1


def test_exact_dedup_keeps_representatives(docs):
    kept = {r["doc_id"] for r in D.exact_dedup(docs).collect()}
    assert kept == {1, 4, 5, 6}


def test_word_shingles(docs):
    sh = D.word_shingles(docs.where("doc_id = 1"), n=3).collect()
    shingles = {r["shingle"] for r in sh}
    assert "the quick brown" in shingles
    assert "over the lazy" in shingles
    assert len(shingles) == 7  # 9 words → 7 trigrams, all distinct


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "two words")], ["doc_id", "text"])
    assert D.word_shingles(df, n=3).count() == 0


def test_reserved_ws_column_rejected(spark):
    # `_ws` is the reserved token-array working column; shingling inputs
    # that already carry it must be rejected, not silently overwritten.
    df = spark.createDataFrame([(1, "some text here", "x")],
                               ["doc_id", "text", "_ws"])
    with pytest.raises(ValueError, match="_ws"):
        D.word_shingles(df, n=2).collect()


def test_minhash_pairs_detect_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in D.minhash_lsh_candidate_pairs(docs, num_hashes=8, bands=4).collect()}
    # identical docs always collide on every band
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    # unrelated doc never pairs with anything
    assert not any(5 in p for p in pairs)


def test_jaccard_pairs_exact_values(docs):
    rows = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(docs, threshold=0.01).collect()}
    assert rows[(1, 2)] == 1.0
    # docs 1 and 4 share 6 trigrams, union 9 → 2/3
    assert rows[(1, 4)] == pytest.approx(2 / 3, abs=1e-5)
    assert (1, 5) not in rows


def test_prefix_jaccard_equals_brute_force(docs, spark):
    """Prefix filtering is exact-by-theorem: bit-identical to
    ngram_jaccard_pairs at several thresholds (unlike LSH, which may
    drop pairs), while generating FEWER candidate rows than the full
    co-shingle self-join."""
    for t in (0.01, 0.2, 0.6):
        want = sorted(map(tuple, D.ngram_jaccard_pairs(
            docs, threshold=t).collect()))
        got = sorted(map(tuple, D.prefix_jaccard_pairs(
            docs, threshold=t).collect()))
        assert got == want and (t > 0.01 or len(want) > 0), t
    with pytest.raises(ValueError, match="threshold"):
        D.prefix_jaccard_pairs(docs, threshold=0.0)
    # pruning census at a tight threshold: candidates from the prefix
    # join stay under the co-shingle join's pair volume
    sh = D.hashed_shingle_sets(docs)
    tokens = sh.select("doc_id", F.explode("hs").alias("h"))
    full = (tokens.alias("a").join(tokens.alias("b"), "h")
            .where("a.doc_id < b.doc_id").count())
    from pyspark.sql.window import Window
    tok = sh.select(F.col("doc_id").alias("id"), "n_sh",
                    F.explode("hs").alias("h"))
    df_h = tok.groupBy("h").agg(F.count("*").alias("df_h"))
    plen = (F.col("n_sh")
            - F.ceil(F.col("n_sh") * F.lit(0.6) - F.lit(1e-9)) + 1)
    prefix = (tok.join(df_h, "h")
              .withColumn("_r", F.row_number().over(
                  Window.partitionBy("id").orderBy("df_h", "h")))
              .where(F.col("_r") <= plen).select("id", "h"))
    pruned = (prefix.alias("a").join(prefix.alias("b"), "h")
              .where("a.id < b.id").count())
    assert 0 < pruned < full


def test_prefix_jaccard_common_token_pair(spark):
    """A qualifying pair whose ONLY shared shingles are the corpus's
    commonest (they sort LAST in the rare-first order) must still be
    caught — the prefix-length theorem, not luck, is what holds."""
    base = "alpha beta gamma delta"          # shared by every doc
    rows = [(1, base), (2, base)]            # J = 1.0 via common tokens
    rows += [(10 + i, base + f" unique{i} tail{i} x{i} y{i} z{i}")
             for i in range(6)]              # make base shingles common
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.prefix_jaccard_pairs(df, threshold=0.9).collect()}
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert got == want and got[(1, 2)] == 1.0


def test_prefix_jaccard_hot_token_autoroute(spark, caplog, monkeypatch):
    """A planted hot-shingle corpus (an exact-duplicate cluster: every
    member's prefix holds the SAME tokens, each with posting length =
    cluster size) routes mode='auto' to LSH→verify with a warning, and
    the routed output is IDENTICAL to the exact path here — identical
    docs collide in every band, and no cross-cluster pair qualifies.
    mode='prefix' must never route (VERDICT-r10 task 4)."""
    import logging

    # 40 identical docs (the hot cluster) + 20 fully-unique docs
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup) for i in range(40)]
    rows += [(100 + i, f"unique{i} doc{i} nothing{i} shared{i} "
              f"here{i} at{i} all{i} ever{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = sorted(map(tuple, D.prefix_jaccard_pairs(
        df, threshold=0.5, mode="prefix").collect()))
    assert len(exact) == 40 * 39 // 2          # the cluster, J = 1.0
    monkeypatch.setattr(D, "HOT_POSTING_LIMIT", 10)
    with caplog.at_level(
            logging.WARNING,
            logger="flink_sql_security_spark.operators.dedup"):
        routed = sorted(map(tuple, D.prefix_jaccard_pairs(
            df, threshold=0.5, mode="auto").collect()))
        assert any("routing to lsh_verified" in r.message
                   for r in caplog.records)
    assert routed == exact
    # under the limit, auto stays on the exact path (no warning)
    caplog.clear()
    monkeypatch.setattr(D, "HOT_POSTING_LIMIT", 100)
    with caplog.at_level(
            logging.WARNING,
            logger="flink_sql_security_spark.operators.dedup"):
        stay = sorted(map(tuple, D.prefix_jaccard_pairs(
            df, threshold=0.5, mode="auto").collect()))
        assert not any("routing" in r.message for r in caplog.records)
    assert stay == exact
    with pytest.raises(ValueError, match="mode"):
        D.prefix_jaccard_pairs(df, threshold=0.5, mode="lsh")


def test_lsh_verified_subset_of_brute_force(docs):
    brute = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.01).collect()}
    verified = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in D.lsh_verified_jaccard_pairs(
                    docs, num_hashes=8, bands=4, threshold=0.01).collect()}
    # LSH pruning can drop pairs but never invent them, and the verify
    # stage recomputes the exact same jaccard values
    assert set(verified) <= set(brute)
    for pair, j in verified.items():
        assert j == brute[pair]
    # identical docs collide on every band — always survive pruning
    assert (1, 2) in verified and verified[(1, 2)] == 1.0


def test_shingle_profile_matches_separate_passes(docs):
    """shingle_profile fuses minhash_signatures_narrow + hashed_shingle_sets
    into one text pass — every column must be bit-identical to the
    two-pass form it replaced."""
    prof = {r["doc_id"]: r for r in D.shingle_profile(
        docs, num_hashes=8).collect()}
    sets_ = {r["doc_id"]: r for r in D.hashed_shingle_sets(docs).collect()}
    sigs = {r["doc_id"]: r for r in D.minhash_signatures_narrow(
        docs, num_hashes=8).collect()}
    assert set(prof) == set(sets_) == set(sigs)
    for i, p in prof.items():
        assert p["hs"] == sets_[i]["hs"]
        assert p["n_sh"] == sets_[i]["n_sh"]
        for k in range(8):
            assert p[f"mh_{k}"] == sigs[i][f"mh_{k}"]


def test_incremental_dedup_statuses(spark):
    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "totally unrelated corpus content right here friends"),
    ], ["doc_id", "text"])
    batch = spark.createDataFrame([
        (10, "THE  quick brown fox JUMPS over the lazy dog"),   # exact (norm)
        (11, "the quick brown fox jumps over the lazy cat today"),  # near
        (12, "fresh new document with entirely novel words"),   # kept
    ], ["doc_id", "text"])
    rows = {r["doc_id"]: r["status"]
            for r in D.incremental_dedup(batch, corpus, num_hashes=8,
                                         bands=4, threshold=0.2).collect()}
    assert rows == {10: "exact_dup", 11: "near_dup", 12: "kept"}


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]          # identical text → identical simhash
    assert sh[1] == sh[3]          # normalization folds case/whitespace
    assert sh[1] != sh[5]          # different text → different simhash
    assert all(0 <= v < 2 ** 48 for v in sh.values())

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dup is closer in hamming space than an unrelated doc
    assert hamming(sh[1], sh[4]) < hamming(sh[1], sh[5])


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),     # identical
        (3, [0.9, 0.1, 0.0, 0.0]),     # close
        (4, [0.0, 1.0, 0.0, 0.0]),     # orthogonal to 1
        (5, [-1.0, 0.0, 0.0, 0.0]),    # opposite
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))


def test_cosine_pairs(vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in S.cosine_pairs(vectors, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == pytest.approx(0.993884, abs=1e-6)
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_cosine_topk_deterministic(vectors):
    top = [(r["n_id"], r["rank"]) for r in
           S.cosine_topk(vectors, vectors.where("vec_id = 1"), k=3).collect()]
    # rank 1 = identical vector; tie-breaks by id
    assert top[0] == (2, 1)
    assert top[1] == (3, 2)


def test_ann_buckets_group_similar(vectors):
    pairs = {(r["id_a"], r["id_b"])
             for r in S.ann_candidate_pairs(vectors, bits=4, dim=4,
                                            threshold=0.9).collect()}
    # identical vectors share every sign bit → same bucket, found
    assert (1, 2) in pairs
    # opposite vector flips every bit → never a candidate
    assert not any(5 in p for p in pairs)


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog ran to the house."),
         (2, "el perro y la casa de que el gato y la"),
         (3, "12345 67890 !!!")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        T.word_count(F.col("text")).alias("wc"),
        T.bpe_token_count(F.col("text")).alias("bpe"),
        T.lang_id(F.col("text")).alias("lang"),
        T.quality_score(F.col("text")).alias("q"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).collect()}
    assert out[1]["wc"] == 9
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "es"
    assert out[3]["lang"] == "und"
    assert out[1]["q"] > out[3]["q"]  # prose scores above digit soup
    assert out[1]["bpe"] == 10        # 9 words + trailing period
    assert len(out[1]["fp"]) == 32


def test_gopher_flags_hand_computed(spark):
    """Each rule fires on a crafted document; a prose doc passes all 7.
    NULL text → NULL metrics, keep=false, rules_passed=0."""
    from flink_sql_security_spark.functions.text import gopher_select

    prose = ("the quick brown fox and that lazy dog have come to be "
             "friends with all of them here today " * 4)      # 68 words
    rows = [
        (1, prose),                                   # passes all 7
        (2, "short text"),                            # word count < 50
        (3, "#### " * 60),                            # symbols, no alpha
        (4, "- a\n- b\n- c\n- d"),                    # bullets
        (5, "wait...\nmore...\nend…\n"),              # ellipsis lines
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in gopher_select(df).collect()}
    assert out[1]["keep"] is True and out[1]["rules_passed"] == 7
    assert 50 <= out[1]["n_words"] <= 100_000
    assert out[1]["stop_hits"] == 8       # all 8 required stops present
    assert out[2]["keep"] is False and out[2]["n_words"] == 2
    assert out[3]["symbol_word_ratio"] > 0.1
    assert out[3]["alpha_word_frac"] == 0.0
    assert out[4]["bullet_line_frac"] == 1.0
    assert out[5]["ellipsis_line_frac"] == 0.75       # 3 of 4 (trailing '')
    assert out[6]["keep"] is False and out[6]["rules_passed"] == 0
    assert out[6]["n_words"] is None and out[6]["stop_hits"] is None


def test_fuzz_gopher_cross_engine(spark):
    """Random documents (newlines, bullets, ellipses, unicode '…',
    NULLs, symbol runs) bit-equal vs the DuckDB oracle. Seed 121393.
    Documents embed via a registered pandas frame, not VALUES literals
    (DuckDB standard strings do not process backslash escapes, so a
    repr-embedded newline would silently become two characters)."""
    import random

    import duckdb
    import pandas as pd

    from flink_sql_security_spark.functions.text import gopher_select
    from oracles.text import gopher_select_sql

    rng = random.Random(121393)
    vocab = ["the", "be", "to", "of", "and", "word", "fox", "##",
             "a1", "…", "...", "12", "zz"]
    docs = []
    for i in range(60):
        if rng.random() < 0.05:
            docs.append((i, None))
            continue
        lines = []
        for _ in range(rng.randrange(1, 6)):
            toks = [rng.choice(vocab)
                    for _ in range(rng.randrange(0, 30))]
            pre = rng.choice(["", "- ", "* ", "• ", "  "])
            post = rng.choice(["", "...", "…", "  "])
            lines.append(pre + " ".join(toks) + post)
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = (gopher_select(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs,
                                           columns=["doc_id", "text"]))
    want = (con.execute(gopher_select_sql()).df()
            .sort_values("doc_id").reset_index(drop=True))
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c], want[c])):
            assert (pd.isna(x) and pd.isna(y)) or str(x) == str(y), \
                (c, i, x, y, docs[i])
    con.close()


def test_c4_clean_hand_computed(spark):
    """Each C4 rule on a crafted page; the transform re-joins only the
    retained lines; NULL/empty text drops."""
    from flink_sql_security_spark.functions.text import c4_select

    good = "This is a sensible sentence with enough words to keep."
    rows = [
        (1, "\n".join([good] * 4)),                        # keep, 4 lines
        (2, "\n".join([good] * 2)),                        # < 3 lines
        (3, "\n".join([good] * 3) + "\nshort line."),      # 4-word line out
        (4, "\n".join([good] * 3) + "\nPlease enable JavaScript now ok."),
        (5, "\n".join([good] * 4) + "\nlorem ipsum dolor sit amet."),
        (6, "\n".join([good] * 4) + "\nvar x = { a: 1 };"),
        (7, "no terminal punctuation in this line\n" + good),
        (8, None),
        (9, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in c4_select(df).collect()}
    assert out[1]["keep"] is True and out[1]["n_lines_kept"] == 4
    assert out[1]["clean_text"] == "\n".join([good] * 4)
    assert out[2]["keep"] is False          # page gate: < 3 lines
    assert out[3]["keep"] is True and out[3]["n_lines_kept"] == 3
    assert "short line." not in out[3]["clean_text"]
    assert out[4]["n_lines_kept"] == 3      # javascript line dropped
    assert out[5]["keep"] is False          # lorem ipsum page gate
    assert out[6]["keep"] is False          # '{' page gate
    assert out[7]["keep"] is False and out[7]["n_lines_kept"] == 1
    assert out[8]["keep"] is False and out[8]["n_lines_kept"] is None
    assert out[9]["keep"] is False and out[9]["n_lines_kept"] == 0
    for d in (2, 5, 6, 7, 8, 9):
        assert out[d]["clean_text"] is None, d


def test_fuzz_c4_cross_engine(spark):
    """Random multi-line pages (terminal punct, short lines,
    javascript/lorem/brace triggers, NULLs) bit-equal vs the DuckDB
    oracle, via a registered frame (newline-safe). Seed 832040."""
    import random

    import duckdb
    import pandas as pd

    from flink_sql_security_spark.functions.text import c4_select
    from oracles.text import c4_select_sql

    rng = random.Random(832040)
    enders = ["", ".", "!", "?", '"']
    extras = ["", " javascript", " lorem ipsum", " {brace}"]
    docs = []
    for i in range(60):
        if rng.random() < 0.05:
            docs.append((i, None))
            continue
        lines = []
        for _ in range(rng.randrange(1, 7)):
            n = rng.randrange(2, 9)
            line = (" ".join(rng.choice(["alpha", "beta", "gamma"])
                             for _ in range(n))
                    + rng.choice(extras) + rng.choice(enders))
            lines.append(line)
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = (c4_select(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = (con.execute(c4_select_sql()).df()
            .sort_values("doc_id").reset_index(drop=True))
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c], want[c])):
            assert (pd.isna(x) and pd.isna(y)) or str(x) == str(y), \
                (c, i, x, y, docs[i])
    con.close()


def test_dedup_lines_hand_computed(spark):
    """First occurrence survives in position order; normalize=True
    folds case/whitespace (emitting the ORIGINAL line); verbatim mode
    keeps case variants; NULL text drops; single line passes through."""
    from flink_sql_security_spark.operators.corpus import dedup_lines

    rows = [
        (1, "Accept cookies.\nReal content here.\nAccept cookies.\n"
            "More content.\naccept   cookies."),
        (2, "only line"),
        (3, None),
        (4, "a\nb\na\nb\na"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(df).collect()}
    assert out[1] == "Accept cookies.\nReal content here.\nMore content."
    assert out[2] == "only line"
    assert 3 not in out                       # NULL text dropped
    assert out[4] == "a\nb"
    verbatim = {r["doc_id"]: r["text"] for r in dedup_lines(
        df, normalize=False).collect()}
    # the identical pair still dedups verbatim; the case/space
    # variant survives (normalize=True had folded it away)
    assert verbatim[1].count("ccept") == 2


def test_fuzz_dedup_lines_cross_engine(spark):
    """Random multi-line docs (repeats, case/space variants, empties)
    bit-equal vs the DuckDB oracle via a registered frame. Seed
    1346269."""
    import random

    import duckdb
    import pandas as pd

    from flink_sql_security_spark.operators.corpus import dedup_lines
    from oracles.corpus import dedup_lines_duckdb_sql

    rng = random.Random(1346269)
    base = ["alpha beta", "Alpha  Beta", "gamma", "", "delta e"]
    for norm in (True, False):
        docs = []
        for i in range(50):
            docs.append((i, "\n".join(
                rng.choice(base) for _ in range(rng.randrange(1, 8)))))
        df = spark.createDataFrame(docs, "doc_id int, text string")
        got = sorted(map(tuple, dedup_lines(
            df, normalize=norm).collect()))
        con = duckdb.connect()
        con.register("documents",
                     pd.DataFrame(docs, columns=["doc_id", "text"]))
        want = sorted(map(tuple, con.execute(dedup_lines_duckdb_sql(
            normalize=norm)).fetchall()))
        assert got == want and len(got) == 50, norm
        con.close()


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"])
    fps = [r["fp"] for r in
           df.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
           .orderBy("doc_id").collect()]
    assert fps[0] == fps[1] != fps[2]


def test_redact_pii_goldens(spark):
    cases = [
        ("mail bob.smith+x@corp.example.org now", "mail [EMAIL] now"),
        ("card 4111 1111 1111 1111 exp", "card [CARD] exp"),
        ("ssn 123-45-6789.", "ssn [SSN]."),
        ("call 555-867-5309 or 555.867.5309", "call [PHONE] or [PHONE]"),
        ("host 192.168.0.1 up", "host [IP] up"),
        ("clean text stays", "clean text stays"),
        # email wins over the digits-with-dots inside its local part
        ("a.1.2.3.4@ex.io", "[EMAIL]"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)],
                               ["i", "t"])
    got = [r["r"] for r in df.select(
        "i", T.redact_pii(F.col("t")).alias("r")).orderBy("i").collect()]
    assert got == [want for _, want in cases]
    # DuckDB emitter agrees on the same inputs
    import duckdb
    for s, want in cases:
        expr = oracles.text.redact_pii_sql("'" + s.replace("'", "''") + "'")
        assert duckdb.sql(f"SELECT {expr}").fetchone()[0] == want


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        Row(media_id="img1", kind="image", content=b"\x89PNG fake bytes",
            mime="image/png", width=64, height=64, duration_ms=None),
        Row(media_id="img2", kind="image", content=b"other bytes",
            mime="image/png", width=32, height=32, duration_ms=None),
        Row(media_id="vid1", kind="video", content=b"\x00\x00video",
            mime="video/mp4", width=1920, height=1080, duration_ms=3500),
        Row(media_id="a1", kind="audio", content=b"RIFF fake wave",
            mime="audio/wav", width=None, height=None, duration_ms=2500),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_multimodal_fake_features(media):
    rows = {r["media_id"]: r for r in M.extract_features(media, fake=True).collect()}
    assert rows["img1"]["n_bytes"] == 15
    assert len(rows["img1"]["features"]) == M.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in rows["img1"]["features"])
    # deterministic: same bytes → same features, different bytes → different
    again = {r["media_id"]: r["features"]
             for r in M.extract_features(media, fake=True).collect()}
    assert again["img1"] == rows["img1"]["features"]
    assert again["img1"] != again["img2"]


def test_multimodal_real_decode_stubbed(media):
    with pytest.raises(Exception) as exc_info:
        M.extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError)


def test_decode_resize_kernel_chain(media):
    import hashlib

    decoded = M.decode_media(media, fake=True)
    rows = {r["media_id"]: r for r in decoded.collect()}
    side = M._FAKE_DECODE_SIDE
    assert rows["img1"]["width"] == side and rows["img1"]["height"] == side
    assert len(bytes(rows["img1"]["pixels"])) == side * side * 3
    # stub is deterministic: buffer bytes cycle md5(payload)
    digest = hashlib.md5(b"\x89PNG fake bytes").digest()
    assert bytes(rows["img1"]["pixels"])[:16] == digest

    resized = {r["media_id"]: r
               for r in M.resize_media(decoded, out_side=4).collect()}
    assert resized["img2"]["width"] == 4 and resized["img2"]["height"] == 4
    assert len(bytes(resized["img2"]["pixels"])) == 4 * 4 * 3
    # nearest-neighbor on a 2× downscale picks every other pixel row/col
    src = bytes(rows["img2"]["pixels"])
    out = bytes(resized["img2"]["pixels"])
    assert out[0:3] == src[0:3]  # top-left pixel survives


def test_resize_plan_arithmetic(media):
    plans = {r["media_id"]: r for r in
             M.resize_plan(media, max_side=224).collect()}
    # within bounds: unchanged
    assert (plans["img1"]["out_width"], plans["img1"]["out_height"]) == (64, 64)
    # 1920×1080 → floor-scaled to longest side 224
    assert (plans["vid1"]["out_width"], plans["vid1"]["out_height"]) == (224, 126)


def test_real_decode_stubbed_with_named_dependency(media):
    with pytest.raises(Exception) as exc_info:
        M.decode_media(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError)


def test_frame_sample_plan(media):
    frames = M.frame_sample_plan(media, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ts_ms"]) for r in frames] == [
        ("vid1", 0), ("vid1", 1000), ("vid1", 2000), ("vid1", 3000)]


def test_blas_prefilter_matches_crossjoin(vectors):
    fast = sorted((r["id_a"], r["id_b"], r["cosine"]) for r in
                  S.cosine_pairs(vectors, threshold=0.5).collect())
    slow = sorted((r["id_a"], r["id_b"], r["cosine"]) for r in
                  S.cosine_pairs(vectors, threshold=0.5,
                                 prefilter=False).collect())
    assert fast == slow  # bit-identical: prefilter only prunes, exact rescoring


def test_blocked_pairs_match_broadcast(spark, monkeypatch):
    """The distributed block-pair scorer (the path that never collects the
    corpus) must emit the same pair set and bit-identical cosines as the
    broadcast-matrix scorer, for any block count (1 = one self group,
    7 = more blocks than some groups can fill)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # the corpus is proven small: the default takes the broadcast path
    assert S._auto_broadcast(emb.select("vec_id", "embedding"),
                             S.BROADCAST_LIMIT_BYTES)
    want = sorted(map(tuple, S.cosine_pairs(
        emb, threshold=0.4).collect()))
    assert len(want) > 0
    monkeypatch.setattr(S, "BROADCAST_LIMIT_BYTES", 0)
    for nb in (1, 7):
        got = sorted(map(tuple, S.cosine_pairs(
            emb, threshold=0.4, n_blocks=nb).collect()))
        assert got == want, f"n_blocks={nb}"


def test_auto_broadcast_resolution(spark):
    """Broadcast only when the optimizer PROVES the corpus under the
    limit."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert S._auto_broadcast(emb, 10 ** 12) is True
    assert S._auto_broadcast(emb, 1) is False      # too big → safe path


def test_uhash_family_not_monotone():
    # regression: int64-safe multipliers with a 2^61-1 modulus never wrap,
    # making every h_k monotone in x and collapsing all minhashes onto the
    # min-x shingle. With p=2^31-1 the per-hash argmin must differ.
    consts = D.uhash_constants(8)
    xs = list(range(1, 2000, 7))
    argmins = {min(range(len(xs)), key=lambda i: (a * xs[i] + b) % D.MERSENNE_31)
               for a, b in consts}
    assert len(argmins) > 1


def test_ivf_assign_partitions_corpus(vectors):
    cells = {r["vec_id"]: r["cell"]
             for r in S.ivf_assign(vectors, n_cells=2).collect()}
    assert set(cells) == {1, 2, 3, 4, 5}
    assert cells[1] == cells[2]          # identical vectors → same cell
    assert cells[1] != cells[5]          # opposite vector → other cell


def test_ivf_topk_high_recall_on_fixture(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    )
    queries = emb.where("vec_id < 10")
    exact = {(r["q_id"], r["n_id"]) for r in
             S.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r["q_id"], r["n_id"]) for r in
              S.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6
    # any pair IVF returns must carry the exact brute-force cosine
    exact_cos = {(r["q_id"], r["n_id"]): r["cosine"] for r in
                 S.cosine_topk(emb, queries, k=5).collect()}
    for r in S.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4).collect():
        if (r["q_id"], r["n_id"]) in exact_cos:
            assert r["cosine"] == exact_cos[(r["q_id"], r["n_id"])]


def test_cosine_topk_blocked_matches_broadcast(spark, monkeypatch):
    """The large-Q block nested-loop path (no driver collect of either
    side) must return the EXACT rows of the broadcast path — same
    neighbors, same bit-identical cosines, same ranks."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"))
    )
    queries = emb.where("vec_id < 15")
    assert S._auto_broadcast(queries, S.QUERY_BROADCAST_LIMIT_BYTES)
    fast = sorted(map(tuple, S.cosine_topk(emb, queries, k=5).collect()))
    monkeypatch.setattr(S, "QUERY_BROADCAST_LIMIT_BYTES", 0)
    blocked = sorted(map(tuple, S.cosine_topk(
        emb, queries, k=5, n_blocks=3, q_blocks=2).collect()))
    assert fast == blocked and len(fast) == 75


def test_ivf_topk_joined_matches_fused(spark, monkeypatch):
    """The large-Q cell-join path must probe the same cells and score
    the same exact cosines as the fused driver-probe path."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"))
    )
    queries = emb.where("vec_id < 15")
    assert S._auto_broadcast(queries.select("vec_id", "embedding"),
                             S.QUERY_BROADCAST_LIMIT_BYTES)
    fused = sorted(map(tuple, S.ivf_topk(
        emb, queries, k=5, n_cells=8, n_probe=3).collect()))
    monkeypatch.setattr(S, "QUERY_BROADCAST_LIMIT_BYTES", 0)
    joined = sorted(map(tuple, S.ivf_topk(
        emb, queries, k=5, n_cells=8, n_probe=3).collect()))
    assert fused == joined and len(fused) > 0


def test_topk_auto_gate_defaults_to_scale_safe_path(spark, monkeypatch):
    """The query-side gate must take the distributed path whenever the
    optimizer cannot PROVE the query side small — a driver collect at
    100 TB must be opt-in, never the default failure mode."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"))
    )
    queries = emb.where("vec_id < 5")
    # tiny parquet side: the size estimate proves it small → broadcast on
    assert S._auto_broadcast(queries, S.QUERY_BROADCAST_LIMIT_BYTES) is True
    # a 1-byte ceiling makes "small" unprovable → the gate must say no
    assert S._auto_broadcast(queries, 1) is False
    # and the operator still returns the identical result through the gate
    want = sorted(map(tuple, S.cosine_topk(emb, queries, k=3).collect()))
    monkeypatch.setattr(S, "QUERY_BROADCAST_LIMIT_BYTES", 1)
    got = sorted(map(tuple, S.cosine_topk(emb, queries, k=3).collect()))
    assert got == want


def test_topk_of_an_empty_query_set_is_empty(spark):
    """An empty query set returns no rows in the top-k schema on the
    broadcast paths, as it does on the blocked and joined ones."""
    from tools.pin_rewrites import SF_DIR

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"))
    )
    none = emb.where("vec_id < 0")
    assert S._auto_broadcast(none, S.QUERY_BROADCAST_LIMIT_BYTES)
    want = [(f.name, f.dataType) for f in
            S.cosine_topk(emb, emb.where("vec_id < 2"), k=3).schema]
    for out in (S.cosine_topk(emb, none, k=3),
                S.filtered_topk(emb, none, "vec_id % 2 = 0", k=3),
                S.matryoshka_topk(emb, none, prefix_dims=16, k=3),
                S.ivf_topk(emb, none, k=3, n_cells=4, n_probe=2)):
        assert out.collect() == []
        assert [(f.name, f.dataType) for f in out.schema] == want


def test_clean_corpus_drops_dups_and_low_quality(spark):
    from flink_sql_security_spark.operators.corpus import clean_corpus
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to the house"),
        (2, "the quick brown fox jumps over the lazy dog and runs to the house"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog and runs to a barn"),     # near dup of 1
        (4, "el perro y el gato de la casa que corre y salta"),                    # not english
        (5, "the engine and the pipeline of a data team to scale and the work"),   # survives
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in clean_corpus(df, jaccard_threshold=0.3).collect()}
    assert 1 in out          # canonical member kept
    assert 2 not in out      # exact dup dropped
    assert 3 not in out      # near dup dropped
    assert 4 not in out      # language gate
    assert 5 in out
    assert out[1]["n_words"] == 14


def test_profile_numeric(spark):
    from flink_sql_security_spark.operators import profile as P
    df = spark.createDataFrame(
        [(1.5, 10), (2.5, None), (2.5, 30)], ["a", "b"])
    rows = {r["column"]: r for r in P.profile_numeric(df, ["a", "b"]).collect()}
    assert rows["a"]["n"] == 3 and rows["a"]["n_null"] == 0
    assert rows["a"]["n_distinct"] == 2
    assert rows["a"]["min"] == 1.5 and rows["a"]["max"] == 2.5
    assert rows["a"]["sum"] == 6.5
    assert rows["a"]["mean"] == pytest.approx(2.166667, abs=1e-6)
    assert rows["b"]["n"] == 2 and rows["b"]["n_null"] == 1


def test_top_tokens_rank_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a b c")], ["doc_id", "text"])
    rows = [(r["token"], r["n_total"], r["n_docs"], r["rank"])
            for r in T.top_tokens(df, k=2).orderBy("rank").collect()]
    assert rows == [("a", 3, 2, 1), ("b", 2, 2, 2)]


def test_connected_components_chain_and_isolate(spark):
    # chain 1-2-3 plus isolated pair 8-9: labels converge to component min
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], ["id_a", "id_b"])
    cc = {r["doc_id"]: r["component_id"]
          for r in D.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_connected_components_long_chain_converges(spark):
    # diameter > 2 exercises the iteration loop + convergence detection
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)], ["id_a", "id_b"])
    cc = {r["doc_id"]: r["component_id"]
          for r in D.connected_components(pairs).collect()}
    assert set(cc.values()) == {10}


def test_connected_components_star_chain_sublinear_rounds(spark):
    """The distributed path (large-star/small-star) converges a chain
    in O(log n) rounds, not in diameter rounds as label propagation
    would, and agrees with the driver union-find."""
    from pyspark.sql import functions as F

    L = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(L)], ["id_a", "id_b"])
    want = {r["doc_id"]: r["component_id"]
            for r in D.connected_components(pairs).collect()}
    p = pairs.persist()
    labels, rounds = D._star_contraction(
        p, F.col("id_a"), F.col("id_b"), 50)
    got = {r["doc_id"]: r["component_id"] for r in labels.collect()}
    p.unpersist()
    assert got == want and set(got.values()) == {0}
    assert rounds <= 12                       # log law, not diameter


# ---------------------------------------------------------------------------
# Sampling / splitting (operators/sampling.py)
# ---------------------------------------------------------------------------

def test_hash_split_deterministic_and_total(docs):
    from flink_sql_security_spark.operators import sampling as SM
    import hashlib
    a = {r["doc_id"]: (r["bucket"], r["split"])
         for r in SM.hash_split(docs.select("doc_id")).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"])
         for r in SM.hash_split(docs.select("doc_id")).collect()}
    assert a == b                      # rerun-stable
    assert set(a) == {1, 2, 3, 4, 5, 6}  # total: every row assigned
    for doc_id, (bucket, split) in a.items():
        expected = int(hashlib.md5(f"{doc_id}:split".encode())
                       .hexdigest()[:8], 16) % 10000
        assert bucket == expected      # content-hash, not partition-dependent
        assert split in ("train", "val", "test")
        assert split == ("train" if bucket < 8000
                         else "val" if bucket < 9000 else "test")


def test_shard_shuffle_deterministic_total_order(docs):
    from flink_sql_security_spark.operators import sampling as SM
    import hashlib

    rows = SM.shard_shuffle(docs.select("doc_id"), n_shards=3).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3, 4, 5, 6}  # total
    # shard = 60-bit md5(id:shuffle) % n, pos = hash-rank within shard
    def rk(i):
        return int(hashlib.md5(f"{i}:shuffle".encode()).hexdigest()[:15], 16)
    for r in rows:
        assert r["shard"] == rk(r["doc_id"]) % 3
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in members] == list(
            range(1, len(members) + 1))          # dense in-shard positions
        hashes = [rk(r["doc_id"]) for r in members]
        assert hashes == sorted(hashes)          # pos follows hash order
    # rerun-stable (content-hash, not partitioning/RNG)
    again = {(r["doc_id"], r["shard"], r["pos"]) for r in SM.shard_shuffle(
        docs.select("doc_id"), n_shards=3).collect()}
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}


def test_hash_split_bad_weights(docs):
    from flink_sql_security_spark.operators import sampling as SM
    with pytest.raises(ValueError):
        SM.hash_split(docs, weights=(0.5, 0.5), names=("a", "b", "c"))


def test_stratified_sample_is_subset_of_split_logic(docs):
    from flink_sql_security_spark.operators import sampling as SM
    full = {r["doc_id"] for r in docs.collect()}
    kept = {r["doc_id"]
            for r in SM.stratified_hash_sample(docs, 0.5).collect()}
    assert kept <= full
    again = {r["doc_id"]
             for r in SM.stratified_hash_sample(docs, 0.5).collect()}
    assert kept == again               # deterministic, unlike df.sample
    assert {r["doc_id"]
            for r in SM.stratified_hash_sample(docs, 1.0).collect()} == full
    assert SM.stratified_hash_sample(docs, 0.0).count() == 0


def test_per_key_quota_caps_and_is_deterministic(spark):
    from flink_sql_security_spark.operators import sampling as SM
    rows = [(i, "big" if i < 25 else "small") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = SM.per_key_quota(df, "source", n=5).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_key["big"]) == 5     # capped
    assert len(by_key["small"]) == 5   # under quota → all kept
    rerun = SM.per_key_quota(df, "source", n=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, rerun))


def test_simhash_hamming_pairs_match_bruteforce(docs):
    from itertools import combinations
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    for k in (2, 8):
        expected = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for a, b in combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= k
        }
        got = {(r["id_a"], r["id_b"], r["hamming"])
               for r in D.simhash_hamming_pairs(docs, max_hamming=k).collect()}
        assert got == expected         # pigeonhole banding is exact


def test_semantic_dedup_clusters_and_survivors(spark):
    from flink_sql_security_spark.operators.similarity import semantic_dedup
    # 1~2 near-identical, 3 close to them, 4 orthogonal, 5 isolated-ish
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),
        (3, [0.97, 0.24, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: (r["component_id"], r["is_kept"])
           for r in semantic_dedup(df, threshold=0.95).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)      # clustered with 1, not kept
    assert out[3] == (1, False)      # transitively clustered via 2
    assert out[4] == (4, True)       # no pair -> survives
    assert out[5] == (5, True)


def test_cross_split_contamination(docs):
    from flink_sql_security_spark.operators import sampling as SM
    out = SM.cross_split_contamination(docs, threshold=0.2).collect()
    splits = {r["doc_id"]: r["split"]
              for r in SM.hash_split(docs.select("doc_id")).collect()}
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    expected = {(a, b) for (a, b) in pairs if splits[a] != splits[b]}
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert got == expected           # exactly the straddling near-dup pairs
    for r in out:
        assert r["split_a"] == splits[r["id_a"]]
        assert r["split_b"] == splits[r["id_b"]]
        assert r["jaccard"] == pairs[(r["id_a"], r["id_b"])]


def test_repetition_metrics_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z"), (3, "")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in T.repetition_select(df).collect()}
    # "a a a b": 4 words, 2 distinct -> dup 0.5; top word 'a' 3/4;
    # bigrams [aa, aa, ab]: 3 total, 2 distinct -> dup 1/3
    assert rows[1]["dup_word_frac"] == 0.5
    assert rows[1]["top_word_frac"] == 0.75
    assert rows[1]["dup_gram_frac"] == round(1 / 3, 6)
    # all-unique doc: no repetition anywhere
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_word_frac"] == 0.25
    assert rows[2]["dup_gram_frac"] == 0.0
    # empty text splits to [""] (one word, one distinct, run 1)
    assert rows[3]["dup_word_frac"] == 0.0
    assert rows[3]["top_word_frac"] == 1.0


def test_repetition_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])
    tree = T.repetition_select(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    # per-row array arithmetic: narrow map only — no Exchange, no explode
    assert "Exchange" not in tree
    assert "Generate" not in tree


def test_decontaminate_flags_overlap(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),
         (2, "totally unrelated training text here")], ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "the quick brown fox runs away")], ["doc_id", "text"])
    got = {r["doc_id"]: r["n_overlap"]
           for r in D.decontaminate(train, bench, n=4).collect()}
    # doc 1 shares exactly one 4-gram ("the quick brown fox"); doc 2 none
    assert got == {1: 1}


def test_decontaminate_broadcasts_benchmark(spark):
    train = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "a b c d f")], ["doc_id", "text"])
    plan = D.decontaminate(train, bench)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # the benchmark shingle set must broadcast: the training side is never
    # shuffled for the probe join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_top_terms(docs):
    from flink_sql_security_spark.functions.text import tfidf_top_terms

    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        assert len(doc_rows) <= 2
        ranks = sorted(r["rank"] for r in doc_rows)
        assert ranks == list(range(1, len(doc_rows) + 1))
        # ranking follows tfidf desc, token asc
        ordered = sorted(doc_rows, key=lambda r: (-r["tfidf"], r["token"]))
        assert [r["rank"] for r in ordered] == ranks
    # a token appearing in every document has idf ln(1) = 0
    n = docs.count()
    for r in rows:
        if r["df"] == n:
            assert r["tfidf"] == 0.0


def test_profile_quantiles_shape_and_order(spark):
    from flink_sql_security_spark.operators.profile import profile_quantiles
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    rows = {r["column"]: r for r in profile_quantiles(
        spark.table("lineitem"), ["l_quantity", "l_discount"]).collect()}
    assert set(rows) == {"l_quantity", "l_discount"}
    for r in rows.values():
        assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]
    # l_quantity is integral 1..50ish: quartiles must sit inside
    assert 1 <= rows["l_quantity"]["p25"] <= rows["l_quantity"]["p95"] <= 50


def test_profile_quantiles_exact_matches_builtin(spark):
    """The distributed-selection exact path (streaming bracket-pick
    kernel over the range-partitioned sorted histogram) must equal
    Spark's own sort-based percentile() bit-for-bit — the selection
    reproduces the built-in's interpolation operands exactly, so any
    drift here means the global index bookkeeping broke."""
    from flink_sql_security_spark.operators.profile import (
        QUANTILE_PS, profile_quantiles)
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    got = {r["column"]: r for r in profile_quantiles(
        spark.table("lineitem"), cols, exact=True).collect()}
    plist = ", ".join(str(p) for p in QUANTILE_PS)
    for c in cols:
        want = spark.sql(
            f"SELECT percentile(CAST(CAST({c} AS DECIMAL(18,2)) AS"
            f" DOUBLE), array({plist})) AS qs FROM lineitem"
            f" WHERE {c} IS NOT NULL").first()["qs"]
        for i, p in enumerate(QUANTILE_PS):
            exp = math.floor(want[i] * 1000000.0 + 0.5) / 1000000.0
            assert got[c][f"p{int(p * 100)}"] == exp, (c, p)


def test_profile_quantiles_auto_switchover(spark, monkeypatch):
    """exact='auto' pins the switch: a provably-small input plans the
    exact sort-based percentile with NO probe job; pushing both
    thresholds to zero forces the HLL probe and the approx_percentile
    plan. The approx path must stay rank-accurate on real data."""
    from flink_sql_security_spark.operators import profile as P
    from flink_sql_security_spark.operators.profile import profile_quantiles
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    li = spark.table("lineitem")
    cols = ["l_quantity", "l_discount"]

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    auto = profile_quantiles(li, cols)                   # small → exact
    assert "approx_percentile" not in plan(auto)
    # the exact path is the distributed-selection plan (range-
    # partitioned histogram + broadcast selector rows), recognizable
    # by its selector column — not a percentile() aggregate
    assert "_p_idx" in plan(auto)
    with monkeypatch.context() as m:
        m.setattr(P, "AUTO_SMALL_BYTES", 0)
        m.setattr(P, "AUTO_DISTINCT_LIMIT", 0)
        forced = profile_quantiles(li, cols)             # → approx
    assert "approx_percentile" in plan(forced)

    # auto==exact exactly; approx within GK rank error of exact
    exact_rows = {r["column"]: r for r in
                  profile_quantiles(li, cols, exact=True).collect()}
    assert {tuple(r) for r in auto.collect()} == \
           {tuple(r) for r in profile_quantiles(li, cols, exact=True).collect()}
    for r in profile_quantiles(li, cols, exact=False).collect():
        e = exact_rows[r["column"]]
        for p in ("p25", "p50", "p75", "p95"):
            span = e["p95"] - e["p25"] or 1.0
            assert abs(r[p] - e[p]) <= 0.05 * span + 1e-6, (r["column"], p)


def test_lm_score_prefers_in_domain(spark):
    """A document made of corpus-frequent bigrams scores higher than one
    made of unique word sequences."""
    from flink_sql_security_spark.functions.text import lm_score

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows += [(100, "the cat sat on the mat"),
             (101, "zyx wvu tsr qpo nml kji")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in lm_score(df).collect()}
    assert got[100]["avg_logprob"] > got[101]["avg_logprob"]
    assert got[100]["n_bigrams"] == 5
    # identical docs score identically
    assert got[0]["avg_logprob"] == got[100]["avg_logprob"]


# -- duplicate-span statistics (substring-dedup signal) ---------------------

def test_duplicate_span_stats(docs):
    out = {r["doc_id"]: r for r in
           D.duplicate_span_stats(docs, n=3, min_df=2).collect()}
    # docs 1,2,3 normalize to the same 9 words -> 7 distinct trigrams, all
    # shared across the trio
    for i in (1, 2, 3):
        assert out[i]["n_spans"] == 7
        assert out[i]["n_dup_spans"] == 7
        assert out[i]["dup_fraction"] == 1.0
    # doc 4 shares its first 6 trigrams with the trio; "the lazy cat" and
    # "lazy cat today" are its own
    assert out[4]["n_spans"] == 8
    assert out[4]["n_dup_spans"] == 6
    assert out[4]["dup_fraction"] == 0.75
    # docs 5 and 6 share nothing
    assert out[5]["n_dup_spans"] == 0 and out[5]["dup_fraction"] == 0.0
    assert out[6]["n_dup_spans"] == 0


def test_duplicate_span_stats_min_df(docs):
    # min_df=3 still catches the identical trio but drops doc 4's overlap
    # (each of its shared trigrams lives in exactly 4 docs >= 3 ... so
    # raise to 4: trio spans have df=4 where doc 4 shares, df=3 otherwise)
    out = {r["doc_id"]: r["n_dup_spans"] for r in
           D.duplicate_span_stats(docs, n=3, min_df=4).collect()}
    # only the 6 trigrams present in all of docs 1-4 clear df >= 4
    assert out[1] == 6 and out[4] == 6
    assert out[5] == 0


def test_duplicate_span_stats_short_docs_dropped(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")],
                               ["doc_id", "text"])
    out = D.duplicate_span_stats(df, n=3).collect()
    # doc 1 has < 3 words -> no span row at all (matches shingle builders)
    assert {r["doc_id"] for r in out} == {2}


# -- token-budget sampling (data mixing) ------------------------------------

def _md5_order(ids, salt="budget"):
    import hashlib
    return sorted(ids, key=lambda i: (
        hashlib.md5(f"{i}:{salt}".encode()).hexdigest(), i))


def test_token_budget_sample_prefix_semantics(spark):
    from flink_sql_security_spark.operators import sampling as SM
    rows = [(i, "k1", "w " * 10) for i in range(10)]           # 10 tokens each
    rows += [(i, "k2", "w " * 3) for i in range(100, 110)]     # 3 tokens each
    df = spark.createDataFrame(
        [(i, k, t.strip()) for i, k, t in rows],
        ["doc_id", "source", "text"])
    out = SM.token_budget_sample(df, 35, key_col="source")
    got = {r["doc_id"]: r["cum_tokens"] for r in out.collect()}
    # k1: 10-token docs -> exactly 3 fit within 35; k2: 3-token docs -> 11
    # would fit but only 10 exist
    k1 = _md5_order(range(10))[:3]
    assert sorted(i for i in got if i < 100) == sorted(k1)
    assert sorted(i for i in got if i >= 100) == list(range(100, 110))
    # running totals are the inclusive prefix sums in md5 order
    assert got[k1[0]] == 10 and got[k1[2]] == 30
    assert max(v for i, v in got.items() if i >= 100) == 30


def test_token_budget_sample_dict_budgets(spark):
    from flink_sql_security_spark.operators import sampling as SM
    df = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "a", "x y"), (3, "b", "x"), (4, "c", "x")],
        ["doc_id", "source", "text"])
    out = SM.token_budget_sample(df, {"a": 3, "b": 1}, key_col="source")
    got = {(r["source"], r["doc_id"]) for r in out.collect()}
    # key a: md5 order picks docs until 3 tokens; key b fits doc 3;
    # key c has no budget entry -> budget 0 -> excluded entirely
    first_a = _md5_order([1, 2])[0]
    expect_a = {("a", 1)} if first_a == 1 else {("a", 2)}
    assert got == expect_a | {("b", 3)}


def test_token_budget_sample_partitioning_invariant(spark):
    from flink_sql_security_spark.operators import sampling as SM
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", "tok " * (i % 7 + 1)) for i in range(60)],
        ["doc_id", "source", "text"])
    a = SM.token_budget_sample(df, 20).collect()
    b = SM.token_budget_sample(df.repartition(13), 20).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- fixed-size token chunking (context-window slicing) ---------------------

def test_chunk_tokens_shapes(spark):
    from flink_sql_security_spark.operators.corpus import chunk_tokens
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "   ")],
        ["doc_id", "text"])
    out = chunk_tokens(df, size=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_i"]): (r["n_tokens"], r["chunk_text"])
           for r in out}
    # doc 1: starts 0,3,6 -> "a b c d", "d e f g", tail "g"
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "d e f g")
    assert got[(1, 2)] == (1, "g")
    # doc 2 fits in one chunk; doc 3 is whitespace-only -> no chunks
    assert got[(2, 0)] == (2, "x y")
    assert {k[0] for k in got} == {1, 2}


def test_chunk_tokens_disjoint_and_validation(spark):
    import pytest as _pytest
    from flink_sql_security_spark.operators.corpus import chunk_tokens
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    out = chunk_tokens(df, size=3, stride=3).collect()
    assert [r["chunk_text"] for r in sorted(out, key=lambda r: r["chunk_i"])] \
        == ["a b c", "d e f"]
    with _pytest.raises(ValueError):
        chunk_tokens(df, size=0)


def test_chunk_tokens_matches_duckdb(spark):
    import duckdb
    from flink_sql_security_spark.operators.corpus import chunk_tokens
    from oracles.corpus import chunk_tokens_duckdb_sql
    rows = [(i, " ".join(f"w{j}" for j in range(i % 11 + 1)))
            for i in range(1, 40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple, chunk_tokens(df, size=4, stride=2).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(map(tuple,
                      con.execute(chunk_tokens_duckdb_sql(4, 2)).fetchall()))
    assert got == want


# -- exact-substring dedup transform (trim duplicated spans) ----------------

def test_trim_duplicate_spans(docs):
    out = {r["doc_id"]: r for r in
           D.trim_duplicate_spans(docs, n=3, min_df=2).collect()}
    # docs 1-3 are entirely covered by shared trigrams -> fully trimmed
    for i in (1, 2, 3):
        assert out[i]["clean_text"] == ""
        assert out[i]["n_removed"] == out[i]["n_tokens"] == 9
    # doc 4: starts 0..5 shared -> tokens 0..7 covered; "cat"(8),"today"(9)
    # survive (its own trigrams "the lazy cat"/"lazy cat today" are unique)
    assert out[4]["clean_text"] == "cat today"
    assert out[4]["n_removed"] == 8
    # unshared docs pass through with normalized text intact
    assert out[5]["n_removed"] == 0
    assert out[5]["clean_text"] == \
        "completely different words entirely unrelated text"
    assert out[6]["n_removed"] == 0


def test_trim_duplicate_spans_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "a b c d")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           D.trim_duplicate_spans(df, n=3, min_df=2).collect()}
    # 2-word docs have no trigram spans -> untouched even though identical
    assert out[1]["clean_text"] == "one two" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "one two"
    assert out[3]["n_removed"] == 0


def test_trim_duplicate_spans_matches_duckdb(spark):
    import duckdb
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a quick brown fox jumps over a fence today ok"),
            (4, "completely different words entirely unrelated text here"),
            (5, "one two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple,
                     D.trim_duplicate_spans(df, n=3, min_df=2).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.execute(
        oracles.dedup.trim_duplicate_spans_duckdb_sql(n=3, min_df=2)).fetchall()))
    assert got == want


def test_span_stats_and_trim_agree(spark):
    """Cross-operator invariant: a doc loses tokens to the trim transform
    iff the stats operator reports duplicated spans for it, and untouched
    docs come back as their normalized text verbatim."""
    rows = [(i, " ".join(f"t{(i * 7 + j) % 23}" for j in range(12)))
            for i in range(30)]
    rows += [(100, rows[0][1]), (101, rows[3][1])]   # two exact clones
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = {r["doc_id"]: r["n_dup_spans"]
             for r in D.duplicate_span_stats(df, n=4, min_df=2).collect()}
    trimmed = {r["doc_id"]: r
               for r in D.trim_duplicate_spans(df, n=4, min_df=2).collect()}
    norm = {i: " ".join(t.lower().split()) for i, t in rows}
    for i, t in rows:
        if stats.get(i, 0) == 0:
            assert trimmed[i]["n_removed"] == 0
            assert trimmed[i]["clean_text"] == norm[i]
        else:
            assert trimmed[i]["n_removed"] > 0


def test_ann_join_scoring_matches_broadcast(spark, monkeypatch):
    """The partitioned (join-based) candidate scorer — the path that never
    collects the corpus — must emit the exact same pair set and cosines
    as the broadcast-matrix scorer."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert S._auto_broadcast(emb, S.BROADCAST_LIMIT_BYTES)
    a = sorted(map(tuple, S.ann_candidate_pairs(
        emb, bits=4, tables=8, threshold=0.4).collect()))
    monkeypatch.setattr(S, "BROADCAST_LIMIT_BYTES", 0)
    b = sorted(map(tuple, S.ann_candidate_pairs(
        emb, bits=4, tables=8, threshold=0.4).collect()))
    assert a == b and len(a) > 0


def _decoded_df(spark, images):
    """Build a decoded-pixels frame directly: images = {id: np.uint8 HxWx3}."""
    import numpy as np
    from pyspark.sql import Row as R

    rows = [R(media_id=k, kind="image", width=int(a.shape[1]),
              height=int(a.shape[0]), channels=int(a.shape[2]),
              pixels=a.tobytes())
            for k, a in images.items()]
    return spark.createDataFrame(
        rows, "media_id string, kind string, width int, height int, "
              "channels int, pixels binary")


def test_phash_matches_numpy_replica(spark):
    import math

    import numpy as np

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    got = {r["media_id"]: r["phash"]
           for r in M.phash(_decoded_df(spark, {"a": img})).collect()}

    def dct_mat(n):
        m = np.empty((n, n))
        for k in range(n):
            s = math.sqrt((1 if k == 0 else 2) / n)
            for i in range(n):
                m[k, i] = s * math.cos(math.pi * (2 * i + 1) * k / (2 * n))
        return m

    gray = img.astype(np.float64).mean(axis=2)
    D = dct_mat(16)
    coeffs = (D @ gray @ D.T)[:8, :8].ravel()[1:]
    med = float(np.median(coeffs))
    want = sum(1 << i for i, v in enumerate(coeffs) if v > med)
    assert got["a"] == want


def test_phash_near_dup_is_close_random_is_far(spark):
    """The perceptual property: a brightness-shifted copy stays within a
    few bits; an unrelated image sits near the 31-bit random baseline."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randint(0, 200, (32, 32, 3), dtype=np.uint8)
    shifted = np.clip(base.astype(np.int16) + 18, 0, 255).astype(np.uint8)
    other = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
    sigs = {r["media_id"]: r["phash"] for r in M.phash(_decoded_df(
        spark, {"base": base, "shift": shifted, "other": other})).collect()}
    near = bin(sigs["base"] ^ sigs["shift"]).count("1")
    far = bin(sigs["base"] ^ sigs["other"]).count("1")
    assert near <= 8, near
    assert far >= 16, far


def test_phash_pairs_banded_join_no_cartesian(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    imgs = {}
    base = rng.randint(0, 200, (16, 16, 3), dtype=np.uint8)
    imgs["base"] = base
    imgs["dup"] = np.clip(base.astype(np.int16) + 9, 0, 255).astype(np.uint8)
    for i in range(6):
        imgs[f"r{i}"] = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    pairs_df = M.phash_pairs(_decoded_df(spark, imgs), max_hamming=8)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs_df.collect()}
    assert ("base", "dup") in pairs
    assert pairs[("base", "dup")] <= 8


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------

def test_dsir_targetlike_docs_score_higher(spark):
    from flink_sql_security_spark.operators import dsir as DS
    corpus = spark.createDataFrame([
        (1, "cats purr and cats nap on warm windowsills"),
        (2, "cats chase the red dot and purr loudly"),
        (3, "the stock market closed lower on tuesday trading"),
        (4, "quarterly earnings beat analyst forecasts again"),
    ], ["doc_id", "text"])
    target = spark.createDataFrame([
        (10, "cats purr when cats are happy"),
        (11, "a cat will nap and purr all day"),
    ], ["doc_id", "text"])
    w = {r["doc_id"]: float(r["weight"])
         for r in DS.dsir_weights(corpus, target).collect()}
    # per-token normalization removes the length confound
    n = {r["doc_id"]: r["n_feats"]
         for r in DS.dsir_weights(corpus, target).collect()}
    per_tok = {r["doc_id"]: float(r["per_tok"])
               for r in DS.dsir_weights(corpus, target).collect()}
    assert min(per_tok[1], per_tok[2]) > max(per_tok[3], per_tok[4]), per_tok
    # and selection surfaces the cat docs first
    top = [r["doc_id"] for r in DS.dsir_select(corpus, target, 2).collect()]
    assert set(top) == {1, 2}


def test_dsir_duckdb_parity_and_repartition_invariance(spark):
    import duckdb
    from flink_sql_security_spark.operators import dsir as DS
    import oracles.dsir
    rows = [(i, f"word{i % 11} word{i % 5} filler text {i % 3}")
            for i in range(80)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tgt = df.where("doc_id % 4 = 0")
    got = sorted(map(tuple, DS.dsir_weights(df, tgt, buckets=512).collect()))
    again = sorted(map(tuple, DS.dsir_weights(
        df.repartition(7), tgt.repartition(3), buckets=512).collect()))
    assert got == again  # decimal-exact: partition-layout independent
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ds_t AS SELECT range AS doc_id, "
        "'word' || (range % 11) || ' word' || (range % 5) || "
        "' filler text ' || (range % 3) AS text FROM range(80)")
    want = sorted(map(tuple, con.execute(oracles.dsir.dsir_weights_duckdb_sql(
        "SELECT * FROM ds_t", "SELECT * FROM ds_t WHERE doc_id % 4 = 0",
        buckets=512)).fetchall()))
    assert got == want


def test_dsir_n_feats_is_token_count(spark):
    from flink_sql_security_spark.operators import dsir as DS
    df = spark.createDataFrame(
        [(1, "one two three"), (2, "just  two")], ["doc_id", "text"])
    n = {r["doc_id"]: r["n_feats"]
         for r in DS.dsir_weights(df, df).collect()}
    assert n == {1: 3, 2: 2}


def test_audio_segment_plan_windows_and_clipping(media):
    plan = {(r["media_id"], r["seg_start_ms"]): r["seg_end_ms"]
            for r in M.audio_segment_plan(
                media, window_ms=2000, hop_ms=1000).collect()}
    # fixture: audio clip a1 has duration 2500ms → segments at 0/1000/2000,
    # last clipped to the clip end; non-audio rows never appear
    starts = sorted(s for (mid, s) in plan if mid == "a1")
    assert starts == [0, 1000, 2000]
    assert plan[("a1", 0)] == 2000 and plan[("a1", 2000)] == 2500
    assert all(mid == "a1" for (mid, _) in plan)


def test_media_plans_survive_bad_duration_metadata(spark):
    """One row with negative/zero duration must be dropped, not fail the
    whole job (sequence() with positive step requires stop >= start)."""
    rows = [("ok", "audio", 2500), ("neg", "audio", -100),
            ("zero", "audio", 0), ("nul", "audio", None),
            ("vok", "video", 1500), ("vneg", "video", -1)]
    df = spark.createDataFrame(rows, ["media_id", "kind", "duration_ms"])
    segs = {r["media_id"] for r in M.audio_segment_plan(df).collect()}
    assert segs == {"ok"}
    frames = {r["media_id"] for r in M.frame_sample_plan(df).collect()}
    assert frames == {"vok"}


# ---------------------------------------------------------------------------
# FIM transform (operators/corpus.py)
# ---------------------------------------------------------------------------

def test_fim_parts_reassemble_to_original(spark):
    from flink_sql_security_spark.operators import corpus as C
    df = spark.createDataFrame(
        [(i, "t0 t1 t2 t3 t4 t5 t6 t7") for i in range(30)],
        ["doc_id", "text"])
    for r in C.fim_transform(df, rate=1.0).collect():
        assert r["fim_applied"]
        assert r["n_prefix"] + r["n_middle"] + r["n_suffix"] == 8
        # PSM format: <PRE> p <SUF> s <MID> m — reordering the parts back
        # to p+m+s must reproduce the original token stream
        body = r["fim_text"]
        pre = body.split("<PRE>")[1].split("<SUF>")[0].split()
        suf = body.split("<SUF>")[1].split("<MID>")[0].split()
        mid = body.split("<MID>")[1].split()
        assert pre + mid + suf == [f"t{i}" for i in range(8)], body
        assert (len(pre), len(mid), len(suf)) == (
            r["n_prefix"], r["n_middle"], r["n_suffix"])


def test_fim_rate_zero_is_passthrough_and_deterministic(spark):
    from flink_sql_security_spark.operators import corpus as C
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "  spaced   out  ")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in C.fim_transform(df, rate=0.0).collect()}
    assert not rows[1]["fim_applied"]
    assert rows[1]["fim_text"] == "alpha beta gamma"
    assert rows[1]["n_middle"] == 3 and rows[1]["n_prefix"] == 0
    # pass-through rows keep their ORIGINAL text: no trim, NULL stays NULL
    assert rows[2]["fim_text"] == "  spaced   out  "
    nul = C.fim_transform(spark.createDataFrame(
        [(9, None)], "doc_id long, text string"), rate=1.0).collect()[0]
    assert not nul["fim_applied"] and nul["fim_text"] is None
    # repartitioning changes nothing (hash-derived splits)
    again = {r["doc_id"]: tuple(r) for r in C.fim_transform(
        df.repartition(5), rate=0.0).collect()}
    assert again == {k: tuple(v) for k, v in rows.items()}
    with pytest.raises(ValueError):
        C.fim_transform(df, rate=1.5)


# ---------------------------------------------------------------------------
# Rank buckets (operators/sampling.py::rank_buckets)
# ---------------------------------------------------------------------------

def test_rank_buckets_orders_and_keeps_ties_together(spark):
    from flink_sql_security_spark.operators import sampling as SM
    rows = [(i, float(s)) for i, s in enumerate(
        [1.0, 1.0, 2.0, 3.0, 3.0, 3.0, 4.0, 5.0, 6.0, 7.0])]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    out = {r["doc_id"]: r["b"] for r in SM.rank_buckets(
        df, "score", 5, "b").collect()}
    # 10 rows / 5 buckets: bucket = floor(strictly_lower * 5 / 10)
    assert out[0] == out[1] == 0                    # ties share
    assert out[3] == out[4] == out[5] == 1          # 3 lower → bucket 1
    assert out[9] == 4
    # monotone in score
    scores = dict(rows)
    pairs = sorted(out, key=lambda d: scores[d])
    assert all(out[a] <= out[b] for a, b in zip(pairs, pairs[1:]))


def test_rank_buckets_repartition_invariant_and_broadcast(spark):
    from flink_sql_security_spark.operators import sampling as SM
    df = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(200)], ["doc_id", "score"])
    a = sorted(map(tuple, SM.rank_buckets(df, "score", 10).collect()))
    b = sorted(map(tuple, SM.rank_buckets(
        df.repartition(13), "score", 10).collect()))
    assert a == b
    plan = SM.rank_buckets(df, "score", 10) \
        ._jdf.queryExecution().executedPlan().toString()
    # the big side joins the cumulated histogram via broadcast — never SMJ
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    with pytest.raises(ValueError):
        SM.rank_buckets(df, "score", 0)


def test_dsir_select_plans_takeordered(spark):
    from flink_sql_security_spark.operators import dsir as DS
    df = spark.createDataFrame(
        [(i, f"word{i % 7} text") for i in range(50)], ["doc_id", "text"])
    plan = DS.dsir_select(df, df.where("doc_id % 3 = 0"), 5) \
        ._jdf.queryExecution().executedPlan().toString()
    # selection must be per-partition top-n + driver merge, never a
    # global range-partitioned sort
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_fim_transform_is_shuffle_free(spark):
    from flink_sql_security_spark.operators import corpus as C
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = C.fim_transform(df, rate=1.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_source_overlap_matrix_folds_and_averages(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 0.5), (4, 5, 0.25)],
        ["id_a", "id_b", "jaccard"])
    d = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "books"), (4, "books"), (5, "web")],
        ["doc_id", "source"])
    got = {(r["source_a"], r["source_b"]): (r["n_pairs"], r["avg_jaccard"])
           for r in D.source_overlap_matrix(pairs, d).collect()}
    # (1,3)=web×books and (4,5)=books×web fold into ONE undirected cell
    assert got[("web", "web")] == (1, 1.0)
    assert got[("books", "web")] == (2, 0.375)
    assert ("web", "books") not in got
    # join strategy is left to AQE (a forced broadcast of the corpus-sized
    # key map would hit the 8 GB broadcast limit at scale): after execution
    # the FINAL adaptive plan must have runtime-converted the tiny key map
    # to a broadcast join — and never a cartesian product
    out = D.source_overlap_matrix(pairs, d)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rank_buckets_null_scores_excluded(spark):
    from flink_sql_security_spark.operators import sampling as SM
    import oracles.sampling
    import duckdb
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 2.0), (4, None), (5, 3.0)],
        "doc_id long, score double")
    got = sorted((r["doc_id"], r["score"], r["bucket"])
                 for r in SM.rank_buckets(df, "score", 3).collect())
    # NULL-score rows are excluded from ranking AND from the denominator
    assert got == [(1, 1.0, 0), (3, 2.0, 1), (5, 3.0, 2)]
    con = duckdb.connect()
    con.execute("CREATE TABLE rb_t(doc_id BIGINT, score DOUBLE)")
    con.execute("INSERT INTO rb_t VALUES (1,1.0),(2,NULL),(3,2.0),"
                "(4,NULL),(5,3.0)")
    want = sorted(map(tuple, con.execute(
        "SELECT doc_id, score, bucket FROM (" + oracles.sampling.rank_buckets_duckdb_sql(
            "SELECT * FROM rb_t", "score", 3) + ")").fetchall()))
    assert got == want


def test_fim_empty_and_null_docs_pass_through(spark):
    import duckdb
    from flink_sql_security_spark.operators import corpus as C
    import oracles.corpus
    df = spark.createDataFrame(
        [(1, "real tokens here"), (2, ""), (3, None), (4, "   ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in C.fim_transform(df, rate=1.0).collect()}
    assert set(got) == {1, 2, 3, 4}         # no rows dropped
    assert got[1]["fim_applied"]
    # pass-through preserves the ORIGINAL text: '' stays '', NULL stays
    # NULL, whitespace stays un-trimmed (nothing silently normalized)
    for d, orig in ((2, ""), (3, None), (4, "   ")):
        assert not got[d]["fim_applied"]
        assert got[d]["fim_text"] == orig
        assert got[d]["n_middle"] == 0
    con = duckdb.connect()
    con.execute("CREATE TABLE fim_t(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO fim_t VALUES (1,'real tokens here'),(2,''),"
                "(3,NULL),(4,'   ')")
    want = sorted(map(tuple, con.execute(
        oracles.corpus.fim_transform_duckdb_sql("fim_t", rate=1.0)).fetchall()))
    assert sorted(tuple(r) for r in got.values()) == want


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing (operators/sampling.py temperature_mix)
# ---------------------------------------------------------------------------

def _tmix_docs(spark):
    rows = [(i, "src_a" if i < 80 else ("src_b" if i < 96 else "src_c"))
            for i in range(100)]          # 80 / 16 / 4 — skewed mixture
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_temperature_take_buckets_limits():
    """alpha=1 keeps the natural distribution (one global rate);
    alpha=0 equalizes groups (equal per-group expected rows)."""
    from flink_sql_security_spark.operators.sampling import (
        temperature_take_buckets)

    counts = {"a": 80, "b": 16, "c": 4}
    nat = temperature_take_buckets(counts, alpha=1.0, target_rows=50)
    # rate_g = target/total for every group -> identical thresholds
    assert len(set(nat.values())) == 1 and nat["a"] == 5000
    eq = temperature_take_buckets(counts, alpha=0.0, target_rows=30)
    # expected rows per group = target/3 = 10 -> rate = 10/count
    assert eq["a"] == 1250 and eq["b"] == 6250 and eq["c"] == 10000
    # intermediate alpha lands between the two regimes for the big group
    mid = temperature_take_buckets(counts, alpha=0.5, target_rows=30)
    assert eq["a"] < mid["a"] < 10000 and mid["c"] == 10000


def test_temperature_mix_upweights_low_resource(spark):
    """The point of alpha<1: the rare source's sampling RATE exceeds the
    dominant source's, while rates stay content-hash deterministic."""
    from flink_sql_security_spark.operators import sampling as SM

    docs = _tmix_docs(spark)
    out = SM.temperature_mix(docs, alpha=0.5, target_rows=40)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    take = {r["source"]: r["take_buckets"] for r in rows}
    # rare src_c keeps everything; dominant src_a is subsampled hardest
    assert take.get("src_c", 10000) == 10000
    assert take["src_a"] < take.get("src_b", 10000)
    # determinism: same output under a different physical layout
    again = {(r["doc_id"], r["source"])
             for r in SM.temperature_mix(
                 docs.repartition(7), alpha=0.5, target_rows=40).collect()}
    assert again == {(r["doc_id"], r["source"]) for r in rows}


def test_temperature_mix_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import sampling as SM
    import oracles.sampling

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    got = sorted((r["doc_id"], r["source"], r["take_buckets"])
                 for r in SM.temperature_mix(
                     docs, alpha=0.5, target_rows=30).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    want = sorted(map(tuple, con.execute(oracles.sampling.temperature_mix_duckdb_sql(
        path, alpha=0.5, target_rows=30)).fetchall()))
    assert got == want and len(got) > 0


def test_temperature_mix_is_narrow_after_counts(spark):
    """After the bounded count collect, selection is a pure codegen CASE
    filter: no shuffle, no Python in the emitting plan."""
    from flink_sql_security_spark.operators import sampling as SM

    docs = _tmix_docs(spark).coalesce(2)
    plan = SM.temperature_mix(docs, alpha=0.5, target_rows=40) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan


def test_temperature_mix_null_and_quoted_groups(spark):
    """NULL groups are never selected (ELSE 0 branch) and quote
    characters in group values are escaped into the CASE literal."""
    from flink_sql_security_spark.operators import sampling as SM

    rows = ([(i, "o'reilly") for i in range(40)]
            + [(i + 100, None) for i in range(20)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = SM.temperature_mix(df, alpha=0.5, target_rows=100).collect()
    assert out, "quoted group must survive the CASE literal"
    assert all(r["source"] == "o'reilly" for r in out)
    assert all(r["take_buckets"] == 10000 for r in out)  # kept whole


# ---------------------------------------------------------------------------
# Canonical-doc selection (operators/dedup.py keep_best_per_component)
# ---------------------------------------------------------------------------

def test_keep_best_selects_quality_and_counts(spark):
    from pyspark.sql import functions as F

    from flink_sql_security_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.4), (11, 0.4), (99, 1.0)],
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    rows = {r["component_id"]: r for r in D.keep_best_per_component(
        docs, pairs, F.col("q")).collect()}
    assert set(rows) == {1, 10}              # singletons (99) excluded
    assert rows[1]["keep_id"] == 2 and rows[1]["n_members"] == 3
    assert rows[1]["quality"] == 0.9
    # equal quality -> lowest id wins
    assert rows[10]["keep_id"] == 10 and rows[10]["n_members"] == 2


def test_keep_best_duckdb_parity(spark):
    import duckdb

    from pyspark.sql import functions as F

    from flink_sql_security_spark.functions import text as T
    import oracles.text
    from flink_sql_security_spark.operators import dedup as D
    import oracles.dedup

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    got = sorted(map(tuple, D.keep_best_per_component(
        docs, D.ngram_jaccard_pairs(docs, threshold=0.05),
        T.quality_score(F.col("text"))).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    shingles = (
        "w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS shingle "
        "       FROM w, UNNEST(range(greatest(len(ws)-2, 0))) AS t(i))")
    pairs_sql = (
        "WITH " + shingles + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{D.SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter"
        "          FROM hs a JOIN hs b ON a.h = b.h WHERE a.doc_id < b.doc_id"
        "          GROUP BY 1, 2) "
        "SELECT id_a, id_b, round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.05")
    want = sorted(map(tuple, con.execute(oracles.dedup.keep_best_duckdb_sql(
        pairs_sql, oracles.text.quality_score_sql("text"))).fetchall()))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# JL random projection (operators/projection.py)
# ---------------------------------------------------------------------------

def test_rp_project_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import projection as RP
    import oracles.projection

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    got = sorted((r["vec_id"], tuple(r["proj"]))
                 for r in RP.rp_project(emb, in_dim=64, out_dim=16).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted((i, tuple(p)) for i, p in con.execute(
        oracles.projection.rp_project_duckdb_sql(in_dim=64, out_dim=16)).fetchall())
    assert got == want and len(got) == 500


def test_rp_project_preserves_distances_jl_bound(spark):
    """The JL property on real data: projected/original squared-distance
    ratios concentrate around 1 with spread ~sqrt(2/k), shrinking as k
    grows (measured 16-dim: mean 1.05 std 0.36; 32-dim: mean 1.02 std
    0.23 — matching the sqrt(2/k) prediction of 0.35/0.25). Rank order
    is NOT the contract on near-equidistant random vectors — ratio
    concentration is."""
    import numpy as np

    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .where("vec_id < 40")
    orig = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(orig)

    def ratio_stats(k):
        proj = {r["vec_id"]: np.asarray(r["proj"], dtype=np.float64)
                for r in RP.rp_project(emb, in_dim=64,
                                       out_dim=k).collect()}
        ratios = []
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                d_o = ((orig[ids[i]] - orig[ids[j]]) ** 2).sum()
                d_p = ((proj[ids[i]] - proj[ids[j]]) ** 2).sum()
                ratios.append(d_p / d_o)
        r = np.array(ratios)
        return float(r.mean()), float(r.std())

    m16, s16 = ratio_stats(16)
    m32, s32 = ratio_stats(32)
    assert 0.85 < m16 < 1.15 and 0.9 < m32 < 1.1, (m16, m32)
    assert s16 < 0.5 and s32 < 0.35, (s16, s32)
    assert s32 < s16  # more dims -> tighter preservation


def test_rp_project_is_narrow_and_loud(spark):
    import pytest

    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # impl='expr': the zero-Python codegen path keeps its narrow pins;
    # the ONLY exchange allowed is the explicit small-input spread (an
    # r11 REPARTITION_BY_NUM that parallelizes the fold on tiny scans
    # and is a no-op at corpus scale)
    plan = RP.rp_project(emb, in_dim=64, out_dim=8, impl="expr") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan
    assert plan.count("Exchange") <= 1
    assert "InPandas" not in plan
    assert "EvalPython" not in plan
    # default (arrow): ONE documented MapInPandas kernel, matrix off
    # the plan, still no required distribution and only the spread
    plan_a = RP.rp_project(emb, in_dim=64, out_dim=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan_a
    assert plan_a.count("Exchange") <= 1
    assert plan_a.count("MapInPandas") == 1
    # wrong length and NULL element both fail loudly
    bad_len = spark.createDataFrame([(1, [0.5] * 8)],
                                    "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="has size"):
        RP.rp_project(bad_len, in_dim=64, out_dim=8).collect()
    vec = [0.5] * 64
    vec[5] = None
    bad_el = spark.createDataFrame([(1, vec)],
                                   "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL/NaN element"):
        RP.rp_project(bad_el, in_dim=64, out_dim=8).collect()


# ---------------------------------------------------------------------------
# Trained PCA projection (operators/projection.py)
# ---------------------------------------------------------------------------

def test_pca_project_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import projection as RP
    import oracles.projection

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    mean, comps = RP.pca_train(emb, out_dim=8, sample=512)
    got = sorted((r["vec_id"], tuple(r["proj"]))
                 for r in RP.pca_project(emb, mean, comps).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted((i, tuple(p)) for i, p in con.execute(
        oracles.projection.pca_project_duckdb_sql(path, out_dim=8, sample=512)).fetchall())
    assert got == want and len(got) == 500


def test_pca_train_artifacts_are_canonical(spark):
    """Deterministic train, sign-fixed components (largest-|coef|
    element positive), components ordered by decreasing captured
    variance on the training sample."""
    import numpy as np

    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = RP.pca_train(emb, out_dim=6, sample=256)
    b = RP.pca_train(emb, out_dim=6, sample=256)
    assert a == b
    mean, comps = a
    assert len(mean) == 64 and [len(r) for r in comps] == [64] * 6
    for row in comps:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # captured variance decreasing: project the sample, compare
    # per-component variances (weakly, post-quantization)
    proj = {r["vec_id"]: r["proj"] for r in RP.pca_project(
        emb.where("vec_id < 256"), mean, comps).collect()}
    P = np.array([proj[i] for i in sorted(proj)])
    v = P.var(axis=0)
    assert all(v[j] >= v[j + 1] - 1e-9 for j in range(len(v) - 1)), v


def test_pca_beats_rp_at_equal_dim_on_neighbor_recall(spark):
    """The reason to pay the training pass: at the same out_dim, PCA's
    projected space preserves true nearest-neighbor sets better than an
    oblivious JL sign projection on the same vectors (recall@10 of the
    exact top-10 measured in the projected space)."""
    import numpy as np

    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .where("vec_id < 120")
    orig = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(orig)
    X = np.array([orig[i] for i in ids])

    def recall(P):
        hits = tot = 0
        for qi in range(len(ids)):
            d_true = ((X - X[qi]) ** 2).sum(axis=1)
            d_proj = ((P - P[qi]) ** 2).sum(axis=1)
            t = set(np.argsort(d_true)[1:11])
            p = set(np.argsort(d_proj)[1:11])
            hits += len(t & p)
            tot += 10
        return hits / tot

    mean, comps = RP.pca_train(emb, out_dim=8, sample=512)
    pca = {r["vec_id"]: r["proj"]
           for r in RP.pca_project(emb, mean, comps).collect()}
    rp = {r["vec_id"]: r["proj"]
          for r in RP.rp_project(emb, in_dim=64, out_dim=8).collect()}
    r_pca = recall(np.array([pca[i] for i in ids]))
    r_rp = recall(np.array([rp[i] for i in ids]))
    assert r_pca > r_rp, (r_pca, r_rp)


def test_projection_arrow_expr_interchangeable(spark):
    """The Arrow kernel (default since the r11 optimization round) and
    the unrolled-expression path are bit-identical — same left-
    associated IEEE folds, same floor rule — for RP and PCA, array and
    exploded shapes."""
    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mean, comps = RP.pca_train(emb, out_dim=4, sample=128)
    for make in [
        lambda ex, impl: RP.rp_project(emb, in_dim=64, out_dim=8,
                                       explode=ex, impl=impl),
        lambda ex, impl: RP.pca_project(emb, mean, comps,
                                        explode=ex, impl=impl),
    ]:
        for ex in (False, True):
            a = sorted(tuple(r) for r in make(ex, "arrow").collect())
            e = sorted(tuple(r) for r in make(ex, "expr").collect())
            assert a == e  # exact — doubles compare bit-for-bit


def test_projection_exploded_form_matches_array_form(spark):
    """explode=True (the window-safe (id, dim, val) shape — the driver
    canonicalizer cannot sort list cells) carries exactly the array
    form's values, for PCA, RP and PQ-reconstruct."""
    from flink_sql_security_spark.operators import pq as PQ
    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .where("vec_id < 60")
    mean, comps = RP.pca_train(emb, out_dim=4, sample=64)
    books = PQ.pq_train(emb, m=8, k=8, iters=2, sample=64)
    for arr_df, ex_df, val_col in [
        (RP.pca_project(emb, mean, comps),
         RP.pca_project(emb, mean, comps, explode=True), "proj"),
        (RP.rp_project(emb, in_dim=64, out_dim=4),
         RP.rp_project(emb, in_dim=64, out_dim=4, explode=True), "proj"),
        (PQ.pq_reconstruct(emb, books),
         PQ.pq_reconstruct(emb, books, explode=True), "approx"),
    ]:
        arrays = {r["vec_id"]: list(r[val_col]) for r in arr_df.collect()}
        got: dict[int, dict[int, float]] = {}
        for r in ex_df.collect():
            got.setdefault(r["vec_id"], {})[r["dim"]] = r["val"]
        rebuilt = {i: [d[j] for j in sorted(d)] for i, d in got.items()}
        assert rebuilt == arrays and len(arrays) == 60
    import pytest

    with pytest.raises(ValueError, match="exclusive"):
        PQ.pq_reconstruct(emb, books, stringify=True, explode=True)


def test_pca_project_is_narrow_and_loud(spark):
    import pytest

    from flink_sql_security_spark.operators import projection as RP

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mean, comps = RP.pca_train(emb, out_dim=4, sample=128)
    # see test_rp_project_is_narrow_and_loud: expr = zero-Python
    # codegen pins; default (arrow) = one documented MapInPandas
    plan = RP.pca_project(emb, mean, comps, impl="expr") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan
    assert plan.count("Exchange") <= 1
    assert "InPandas" not in plan
    assert "EvalPython" not in plan
    plan_a = RP.pca_project(emb, mean, comps) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan_a
    assert plan_a.count("Exchange") <= 1
    assert plan_a.count("MapInPandas") == 1
    bad_len = spark.createDataFrame([(1, [0.5] * 8)],
                                    "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="has size"):
        RP.pca_project(bad_len, mean, comps).collect()
    vec = [0.5] * 64
    vec[5] = None
    bad_el = spark.createDataFrame([(1, vec)],
                                   "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL/NaN element"):
        RP.pca_project(bad_el, mean, comps).collect()
    with pytest.raises(ValueError, match="component 0 has"):
        RP.pca_project(emb, mean, [[0.0] * 63])
    with pytest.raises(ValueError, match="out_dim"):
        RP.pca_train(emb, out_dim=0)


# ---------------------------------------------------------------------------
# Filtered vector search (operators/similarity.py filtered_topk)
# ---------------------------------------------------------------------------

def test_filtered_topk_prefilter_semantics(spark):
    """Every neighbor satisfies the predicate, every match competes —
    including matches a post-filter of the unfiltered top-k would have
    missed entirely."""
    rows = [
        # query 1 plus nine A-label vectors nearly parallel to it and
        # two B-label vectors further away: the unfiltered top-3 is all
        # A, so post-filtering it for B returns NOTHING — pre-filtering
        # must return both B vectors.
        (1, [1.0, 0.0, 0.0, 0.0], "A"),
        *[(i, [1.0, 0.001 * i, 0.0, 0.0], "A") for i in range(2, 11)],
        (11, [0.8, 0.6, 0.0, 0.0], "B"),
        (12, [0.6, 0.8, 0.0, 0.0], "B"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.where("vec_id = 1")
    plain = S.cosine_topk(df, q, k=3).collect()
    assert all(r["n_id"] < 11 for r in plain)  # top-3 is all label A
    filt = S.filtered_topk(df, q, "label = 'B'", k=3).collect()
    assert sorted(r["n_id"] for r in filt) == [11, 12]
    assert [r["rank"] for r in sorted(filt, key=lambda r: r["rank"])] == [1, 2]


def test_fuzz_pca_configs_cross_engine(spark):
    """Config fuzz over trained PCA: random (out_dim, sample, explode)
    draws, each trial's artifacts re-derived by the oracle emitter and
    the projection value-exact vs DuckDB. Seed base 13131."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import projection as RP
    import oracles.projection

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    rng = random.Random(13131)
    for trial in range(4):
        out_dim = rng.choice([1, 3, 8, 17])
        sample = rng.choice([16, 100, 333, 500])
        explode = rng.random() < 0.5
        cfg = (trial, out_dim, sample, explode)
        mean, comps = RP.pca_train(emb, out_dim=out_dim, sample=sample)
        got = sorted(
            (r["vec_id"], r["dim"], r["val"]) if explode
            else (r["vec_id"], tuple(r["proj"]))
            for r in RP.pca_project(emb, mean, comps,
                                    explode=explode).collect())
        want = sorted(
            (r[0], r[1], r[2]) if explode else (r[0], tuple(r[1]))
            for r in con.execute(oracles.projection.pca_project_duckdb_sql(
                path, out_dim=out_dim, sample=sample,
                explode=explode)).fetchall())
        assert got == want and len(got) > 0, cfg
    con.close()


def _filtered_topk_duckdb_sql(corpus_pred: str, query_pred: str,
                              k: int) -> str:
    """Oracle twin of filtered_topk for the fuzz suite: unit-dot
    scoring with the predicate on the corpus side only (the
    emb_filtered_topk entry shape, parameterized)."""
    from oracles.common import floor_round

    dot = floor_round(
        "list_sum(list_transform(list_zip(q.unit, c.unit), "
        "x -> x[1] * x[2]))", 6)
    return (
        "WITH x AS (SELECT vec_id, label, "
        "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd, "
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n "
        "FROM embeddings), "
        "u AS (SELECT vec_id, label, "
        "list_transform(xd, v -> v / n) AS unit FROM x), "
        f"scored AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, {dot} "
        f"AS cosine FROM u q, u c WHERE ({query_pred.replace('vec_id', 'q.vec_id')}) "
        f"AND ({corpus_pred}) AND q.vec_id <> c.vec_id), "
        "ranked AS (SELECT q_id, n_id, cosine, row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank "
        "FROM scored) "
        f"SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {k}")


def test_fuzz_filtered_topk_configs_cross_engine(spark):
    """Config fuzz over filtered search: random corpus predicates
    (equality / set / range / modulo over label and vec_id), query
    slices and k draws, each value-exact vs the DuckDB oracle. Seed
    base 15151."""
    import random

    import duckdb

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    rng = random.Random(15151)
    for trial in range(4):
        pred = rng.choice([
            "label = 3", "label IN (1, 2)", "label >= 7",
            "vec_id % 5 = 2", "label = 4 AND vec_id % 2 = 0"])
        qhi = rng.choice([5, 12, 20])
        k = rng.choice([1, 3, 7])
        cfg = (trial, pred, qhi, k)
        got = sorted(map(tuple, S.filtered_topk(
            emb, emb.where(f"vec_id < {qhi}"), pred, k=k).collect()))
        duck_pred = (pred.replace("label", "c.label")
                     .replace("vec_id", "c.vec_id"))
        want = sorted(map(tuple, con.execute(_filtered_topk_duckdb_sql(
            duck_pred, f"vec_id < {qhi}", k)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_filtered_topk_validates_predicate(spark):
    import pytest

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="non-empty SQL string"):
        S.filtered_topk(df, df, "  ")
    with pytest.raises(ValueError, match="non-empty SQL string"):
        S.filtered_topk(df, df, None)


def test_component_safe_split_no_leakage(docs):
    """The operator's contract: every member of a near-dup component
    lands in ONE split; singletons match plain hash_split keyed on
    their own id."""
    from flink_sql_security_spark.operators import dedup as D
    from flink_sql_security_spark.operators import sampling as SM

    pairs = D.ngram_jaccard_pairs(docs, threshold=0.05)
    comp = {r["doc_id"]: r["component_id"]
            for r in D.connected_components(
                D.ngram_jaccard_pairs(docs, threshold=0.05)).collect()}
    rows = SM.component_safe_split(docs, pairs).collect()
    split = {r["doc_id"]: r["split"] for r in rows}
    gk = {r["doc_id"]: r["group_key"] for r in rows}
    per_comp = {}
    for d, c in comp.items():
        per_comp.setdefault(c, set()).add(split[d])
        assert gk[d] == c
    assert per_comp and all(len(v) == 1 for v in per_comp.values())
    # singletons: identical assignment to hash_split on the id itself
    plain = {r["doc_id"]: r["split"] for r in SM.hash_split(
        docs.select("doc_id")).collect()}
    for d in split:
        if d not in comp:
            assert gk[d] == d and split[d] == plain[d]


def test_component_safe_split_cross_engine(spark):
    import duckdb

    from flink_sql_security_spark.operators import dedup as D
    from flink_sql_security_spark.operators import sampling as SM
    import oracles.sampling

    path = "/root/testdata/sf0.001/documents.parquet"
    pdocs = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    # reuse the shipped entry's oracle pairs (keeps ONE pairs definition)
    import __spark_entry__ as entry

    pairs_sql = entry.oracle_sql()["dedup_jaccard_pairs"]
    got = sorted(map(tuple, SM.component_safe_split(
        pdocs, D.ngram_jaccard_pairs(pdocs, threshold=0.05)).collect()))
    want = sorted(map(tuple, con.execute(
        oracles.sampling.component_safe_split_duckdb_sql(pairs_sql)).fetchall()))
    con.close()
    assert got == want and len(got) == 500


def test_temperature_mix_empty_and_all_null_groups(spark):
    """ADVICE fix: an empty input (or an all-NULL group column) used to
    emit `CASE ELSE 0 END` — a parse error. Both now return the empty
    result, and the shared CASE emitter degrades to the literal 0."""
    from flink_sql_security_spark.operators import sampling as SM
    from flink_sql_security_spark.operators.sampling import take_case_sql

    docs = _tmix_docs(spark)
    assert SM.temperature_mix(docs.where("doc_id < 0"),
                              alpha=0.5, target_rows=40).count() == 0
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, source string")
    assert SM.temperature_mix(all_null, alpha=0.5,
                              target_rows=40).count() == 0
    assert take_case_sql({}, "source") == "0"


# ------------------------------------------- sentence-boundary chunking

def test_chunk_sentences_boundaries_and_budget(spark):
    """Chunk breaks fall only at sentence edges; each chunk holds >= 1
    sentence; a chunk exceeds the budget only by its straddling
    sentence; re-concatenation preserves sentence order."""
    from flink_sql_security_spark.operators.corpus import chunk_sentences

    rows = [
        (1, "one two three. four five. six seven eight nine. ten"),
        (2, "a b c d e f g h i j k l"),           # no boundary: 1 chunk
        (3, "s1 w w. s2 w w. s3 w w. s4 w w"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_sentences(df, budget=5, delim=". ").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # doc 2: single sentence longer than the budget -> exactly 1 chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 12

    # doc 1 sentence token counts: 3, 2, 4, 1; prefix DIV 5 ->
    # chunks {0: [s0, s1], 1: [s2, s3]}
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_sentences"] for r in c1] == [2, 2]
    assert c1[0]["chunk_text"] == "one two three. four five"
    assert c1[1]["chunk_text"] == "six seven eight nine. ten"

    # every chunk's text is whole sentences in order: re-joining all
    # chunks with the delimiter reproduces the original text
    for doc_id, text in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        assert ". ".join(r["chunk_text"] for r in chunks) == text


def test_chunk_sentences_cross_engine_exact(spark):
    """Spark == DuckDB value-exact on the documents fixture at two
    budgets and a custom delimiter (the entry's config)."""
    import duckdb

    from flink_sql_security_spark.operators.corpus import chunk_sentences
    from oracles.corpus import chunk_sentences_duckdb_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    for budget, delim in ((24, " a "), (8, " the ")):
        got = sorted(map(tuple, chunk_sentences(
            docs, budget=budget, delim=delim).collect()))
        want = sorted(map(tuple, con.execute(chunk_sentences_duckdb_sql(
            budget=budget, delim=delim)).fetchall()))
        assert got == want and len(got) > 0, (budget, delim)
    con.close()


def test_chunk_sentences_validation_and_empty(spark):
    from flink_sql_security_spark.operators.corpus import chunk_sentences
    from oracles.corpus import chunk_sentences_duckdb_sql

    df = spark.createDataFrame([(1, "x. y"), (2, "   "), (3, None)],
                               ["doc_id", "text"])
    out = chunk_sentences(df, budget=2, delim=". ").collect()
    # blank/NULL docs are dropped, not crashed on
    assert {r["doc_id"] for r in out} == {1}
    with pytest.raises(ValueError, match="budget"):
        chunk_sentences(df, budget=0)
    with pytest.raises(ValueError, match="budget"):
        chunk_sentences_duckdb_sql(budget=0)


def test_fuzz_chunk_sentences_configs_cross_engine(spark):
    """Config fuzz over sentence-boundary chunking: random
    (budget, delim) draws on the documents fixture, each value-exact
    vs the oracle. Seed base 11211."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.corpus import chunk_sentences
    from oracles.corpus import chunk_sentences_duckdb_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    rng = random.Random(11211)
    for trial in range(4):
        budget = rng.choice([1, 4, 16, 64, 500])
        delim = rng.choice([" a ", " the ", " table ", ". "])
        cfg = (trial, budget, delim)
        got = sorted(map(tuple, chunk_sentences(
            docs, budget=budget, delim=delim).collect()))
        want = sorted(map(tuple, con.execute(chunk_sentences_duckdb_sql(
            budget=budget, delim=delim)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_chunk_sentences_dense_ids_metachar_delim_and_trim(spark):
    """The three review-fix behaviors: (a) chunk ids are DENSE even
    when a long sentence straddles several budget multiples, (b) a
    regex-metacharacter delimiter is treated literally on both
    engines, (c) delimiter-adjacent whitespace never counts as a
    phantom token and empty segments count 0."""
    import duckdb

    from flink_sql_security_spark.operators.corpus import chunk_sentences
    from oracles.corpus import chunk_sentences_duckdb_sql

    # (a) dense ids: sentences of 10 and 10 tokens at budget 5 land in
    # raw chunks 0 and 2 -> renumbered 0 and 1
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10. "
             "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")],
        ["doc_id", "text"])
    out = sorted(chunk_sentences(df, budget=5, delim=". ").collect(),
                 key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in out] == [0, 1]
    assert [r["n_tokens"] for r in out] == [10, 10]

    # (b)+(c): '? ' delimiter (regex metachar) + double-space after
    # the boundary; cross-engine exact and no phantom token
    df2 = spark.createDataFrame(
        [(1, "foo bar?  baz qux? tail")], ["doc_id", "text"])
    got = sorted(map(tuple, chunk_sentences(
        df2, budget=3, delim="? ").collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 1 AS doc_id, "
                "'foo bar?  baz qux? tail' AS text")
    want = sorted(map(tuple, con.execute(chunk_sentences_duckdb_sql(
        budget=3, delim="? ")).fetchall()))
    con.close()
    assert got == want
    # segments: 'foo bar' (2), ' baz qux' (trimmed -> 2, NOT 3 with a
    # phantom leading-space token), 'tail' (1)
    assert sum(r[3] for r in got) == 5

    with pytest.raises(ValueError, match="delim"):
        chunk_sentences(df2, budget=3, delim="")
    with pytest.raises(ValueError, match="delim"):
        chunk_sentences_duckdb_sql(budget=3, delim="")


# --------------------------------------------- content-defined chunking

def test_chunk_content_defined_edit_stability(spark):
    """THE content-defined property: prepending tokens to a document
    perturbs only the chunks up to the first shared boundary — every
    later chunk's text is byte-identical, where fixed-stride chunking
    would re-shift the entire tail."""
    from flink_sql_security_spark.operators.corpus import (
        chunk_content_defined, chunk_tokens)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine "
            "ten eleven twelve thirteen fourteen fifteen sixteen")
    edited = "INSERTED TOKENS " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], ["doc_id", "text"])
    out = chunk_content_defined(df, w=3, mask_bits=3).collect()
    chunks = {1: [], 2: []}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        chunks[r["doc_id"]].append(r["chunk_text"])
    # enough signal to compare
    assert len(chunks[1]) >= 3 and len(chunks[2]) >= 3
    # boundaries are local w-grams: the suffix chunk lists converge
    shared = set(chunks[1]) & set(chunks[2])
    assert shared, (chunks[1], chunks[2])
    # specifically the LAST chunk is identical (tail stability)
    assert chunks[1][-1] == chunks[2][-1]

    # fixed-stride chunking does NOT have this property on the same
    # edit (tail re-shifts) — the contrast that motivates CDC
    ft = chunk_tokens(df, size=8, stride=8).collect()
    fchunks = {1: [], 2: []}
    for r in sorted(ft, key=lambda r: (r["doc_id"], r["chunk_i"])):
        fchunks[r["doc_id"]].append(r["chunk_text"])
    assert fchunks[1][-1] != fchunks[2][-1]


def test_chunk_content_defined_semantics_and_validation(spark):
    """Dense ids, boundary rule (count of boundaries strictly before),
    single-token docs, validation bounds."""
    import duckdb

    import pytest as _pt

    from flink_sql_security_spark.operators.corpus import chunk_content_defined
    from oracles.corpus import chunk_content_defined_duckdb_sql

    df = spark.createDataFrame(
        [(1, "solo"), (2, "  "), (3, None)], ["doc_id", "text"])
    out = chunk_content_defined(df, w=3, mask_bits=2).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1 \
        and out[0]["chunk_id"] == 0 and out[0]["n_tokens"] == 1

    with _pt.raises(ValueError, match="w must be"):
        chunk_content_defined(df, w=0)
    with _pt.raises(ValueError, match="mask_bits"):
        chunk_content_defined(df, mask_bits=0)
    with _pt.raises(ValueError, match="mask_bits"):
        chunk_content_defined_duckdb_sql(mask_bits=21)

    # reconstruction: chunks in id order re-join (single-space) to the
    # whitespace-normalized document
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rows = chunk_content_defined(docs, w=3, mask_bits=4).collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append((r["chunk_id"],
                                                r["chunk_text"]))
    orig = {r["doc_id"]: " ".join(r["text"].split())
            for r in docs.select("doc_id", "text").collect()
            if r["text"] and r["text"].strip()}
    for doc_id, lst in per.items():
        joined = " ".join(t for _, t in sorted(lst))
        assert joined == orig[doc_id], doc_id
        # ids dense 0..k
        assert sorted(c for c, _ in lst) == list(range(len(lst)))


def test_fuzz_chunk_content_defined_configs_cross_engine(spark):
    """Config fuzz: random (w, mask_bits) draws, value-exact vs the
    oracle. Seed base 12321."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.corpus import chunk_content_defined
    from oracles.corpus import chunk_content_defined_duckdb_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    rng = random.Random(12321)
    for trial in range(4):
        w = rng.randint(1, 6)
        mb = rng.randint(1, 7)
        cfg = (trial, w, mb)
        got = sorted(map(tuple, chunk_content_defined(
            docs, w=w, mask_bits=mb).collect()))
        want = sorted(map(tuple, con.execute(
            chunk_content_defined_duckdb_sql(
                w=w, mask_bits=mb)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------ robust outliers

def test_robust_outliers_flags_planted_corruption(spark):
    """A group of well-behaved values plus one planted 1e6 corruption:
    only the corruption flags at k=3; med/MAD come from the clean mass."""
    from flink_sql_security_spark.operators.profile import robust_outliers

    rows = [("a", i, float(v)) for i, v in enumerate(
        [10, 11, 12, 13, 14, 9, 8, 12, 11, 10])]
    rows.append(("a", 99, 1e6))
    out = robust_outliers(
        spark.createDataFrame(rows, ["g", "id", "v"]),
        value_col="v", group_cols=["g"], id_cols=["id"]).collect()
    assert len(out) == 1 and out[0]["id"] == 99
    assert out[0]["med"] == 11.0   # lower median of 11 values
    assert out[0]["mad"] == 1.0
    assert out[0]["score"] is not None and out[0]["score"] > 1e5


def test_robust_outliers_zero_mad_group(spark):
    """Constant group (MAD=0): any deviating value flags, score NULL
    (0-MAD score is engine-dependent, so the operator refuses to emit
    one); the constant rows never flag."""
    from flink_sql_security_spark.operators.profile import robust_outliers

    rows = [("c", i, 5.0) for i in range(8)] + [("c", 50, 6.0)]
    out = robust_outliers(
        spark.createDataFrame(rows, ["g", "id", "v"]),
        value_col="v", group_cols=["g"], id_cols=["id"]).collect()
    assert len(out) == 1 and out[0]["id"] == 50
    assert out[0]["mad"] == 0.0 and out[0]["score"] is None


def test_robust_outliers_median_is_breakdown_resistant(spark):
    """Mean/stddev z-scores break when 30% of a group is corrupted;
    the median stays on the clean mass — pin exactly that case."""
    from flink_sql_security_spark.operators.profile import robust_outliers

    clean = [("g", i, float(100 + (i % 5))) for i in range(7)]
    bad = [("g", 100 + i, 1e9) for i in range(3)]
    out = robust_outliers(
        spark.createDataFrame(clean + bad, ["g", "id", "v"]),
        value_col="v", group_cols=["g"], id_cols=["id"]).collect()
    assert sorted(r["id"] for r in out) == [100, 101, 102]
    assert all(100 <= r["med"] <= 104 for r in out)


def test_robust_outliers_validates_args(spark):
    from flink_sql_security_spark.operators.profile import robust_outliers
    from oracles.profile import robust_outliers_duckdb_sql

    df = spark.createDataFrame([("a", 1, 1.0)], ["g", "id", "v"])
    import pytest
    with pytest.raises(ValueError):
        robust_outliers(df, value_col="v", group_cols=[], id_cols=["id"])
    with pytest.raises(ValueError):
        robust_outliers(df, value_col="v", group_cols=["g"], id_cols=[])
    with pytest.raises(ValueError):
        robust_outliers_duckdb_sql(
            "t", value_col="v", group_cols=[], id_cols=["id"])


def test_fuzz_robust_outliers_cross_engine(spark):
    """Config fuzz: random heavy-tailed grouped values (group count,
    corruption rate, k), bit-equal vs the DuckDB oracle. Seed 16180."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.profile import robust_outliers
    from oracles.profile import robust_outliers_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(16180)
    for trial in range(4):
        n_groups = rng.choice([1, 2, 4])
        n = rng.choice([15, 40])
        k = rng.choice([1.5, 2.0, 3.0])
        rows = []
        for i in range(n):
            v = rng.gauss(50, 5)
            if rng.random() < 0.15:
                v *= rng.choice([20.0, -30.0])
            rows.append((f"g{rng.randrange(n_groups)}", i, v))
        cfg = (trial, n_groups, n, k)
        df = spark.createDataFrame(rows, ["g", "id", "v"])
        got = sorted(map(tuple, robust_outliers(
            df, value_col="v", group_cols=["g"], id_cols=["id"],
            k=k).collect()))
        # quoted-string casts: DuckDB parses bare decimal literals as
        # DECIMAL then casts (double rounding, 1 ulp off); the string
        # form parses correctly-rounded — the pagerank_sql convention
        vals = ", ".join(
            f"('{g}', {i}, CAST('{v!r}' AS DOUBLE))" for g, i, v in rows)
        want = sorted(map(tuple, con.execute(robust_outliers_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(g, id, v))",
            value_col="v", group_cols=["g"], id_cols=["id"],
            k=k)).fetchall()))
        assert got == want, cfg
        assert len(got) > 0, cfg
    con.close()


# ------------------------------------------------------- matryoshka

def test_matryoshka_full_prefix_equals_exact(spark):
    """prefix_dims = full dim with a covering shortlist is EXACTLY
    brute-force top-k: same neighbors, same bit-identical cosines."""
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<float>")
                   .alias("embedding")))
    q = emb.where("vec_id < 8")
    exact = sorted(map(tuple, S.cosine_topk(emb, q, k=5).collect()))
    full = sorted(map(tuple, S.matryoshka_topk(
        emb, q, prefix_dims=64, shortlist=100, k=5).collect()))
    assert full == exact


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_matryoshka_auto_recall_two_corpus_sizes(spark, sf):
    """Isotropic synthetic vectors are the WORST case for prefix
    pruning (flat spectrum, prefix keeps ~p/d of the signal).
    shortlist='auto' (the √n rule) must hold recall ≥ 0.85 at BOTH
    corpus sizes — the old fixed ×8 multiplier measured 0.72 on the
    larger fixture (VERDICT-r09 task 7)."""
    emb = (spark.read.parquet(
        f"/root/testdata/sf{sf}/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<float>")
                   .alias("embedding")))
    q = emb.where("vec_id < 10")
    exact = {(r["q_id"], r["n_id"]) for r in
             S.cosine_topk(emb, q, k=5).collect()}
    got_rows = S.matryoshka_topk(
        emb, q, prefix_dims=32, shortlist="auto", k=5).collect()
    got = {(r["q_id"], r["n_id"]) for r in got_rows}
    assert len(exact & got) / len(exact) >= 0.85, sf
    # every returned pair carries the exact full-dim cosine
    exact_cos = {(r["q_id"], r["n_id"]): r["cosine"] for r in
                 S.cosine_topk(emb, q, k=300).collect()}
    for r in got_rows:
        if (r["q_id"], r["n_id"]) in exact_cos:
            assert r["cosine"] == exact_cos[(r["q_id"], r["n_id"])]


def test_matryoshka_auto_shortlist_rule():
    """The shared sizing rule: max(8k, ceil(5√n)), floor engages on
    tiny corpora, and the string-but-not-auto guard raises."""
    import math

    from flink_sql_security_spark.operators.similarity import (
        matryoshka_shortlist_k)

    assert matryoshka_shortlist_k(5, "auto", 16) == 40      # floor
    assert matryoshka_shortlist_k(5, "auto", 10_000) == 500  # 5·√n
    assert matryoshka_shortlist_k(
        5, "auto", 2_000) == math.ceil(5 * math.sqrt(2_000))
    assert matryoshka_shortlist_k(5, 8, 0) == 40             # legacy int
    with pytest.raises(ValueError, match="shortlist"):
        matryoshka_shortlist_k(5, "AUTO", 10)


def test_matryoshka_validates_args(spark):
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="prefix_dims"):
        S.matryoshka_topk(emb, emb, prefix_dims=0, k=5)
    with pytest.raises(ValueError, match="shortlist"):
        S.matryoshka_topk(emb, emb, prefix_dims=8, shortlist=0, k=5)
    with pytest.raises(ValueError, match="prefix_dims"):
        oracles.similarity.matryoshka_topk_duckdb_sql("t", "1=1", prefix_dims=-1)
    with pytest.raises(ValueError, match="shortlist"):
        oracles.similarity.matryoshka_topk_duckdb_sql("t", "1=1", prefix_dims=8,
                                                      shortlist=0)


def test_fuzz_matryoshka_configs_cross_engine(spark):
    """Config fuzz over (prefix_dims, shortlist, k) on the sf0.001
    fixture — bit-equal vs the DuckDB oracle. Seed base 22360."""
    import random

    import duckdb

    rng = random.Random(22360)
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<float>")
                   .alias("embedding")))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    for trial in range(3):
        p = rng.choice([8, 16, 33, 64])
        sl = rng.choice([2, 4, 7])
        k = rng.choice([3, 5])
        cfg = (trial, p, sl, k)
        got = sorted(map(tuple, S.matryoshka_topk(
            emb, emb.where("vec_id < 6"), prefix_dims=p, shortlist=sl,
            k=k).collect()))
        want = sorted(map(tuple, con.execute(oracles.similarity.matryoshka_topk_duckdb_sql(
            "embeddings", "vec_id < 6", prefix_dims=p, shortlist=sl,
            k=k)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ----------------------------------------------------------- containment

def test_containment_excerpt_beats_jaccard(spark):
    """A 6-word excerpt embedded verbatim in a 60-word page: containment
    of the excerpt is 1.0 while Jaccard stays tiny — the exact pair a
    resemblance threshold misses (Broder 1997)."""
    page_words = " ".join(f"w{i}" for i in range(54))
    excerpt = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, excerpt), (2, page_words + " " + excerpt)],
        ["doc_id", "text"])
    rows = {(r["id_sub"], r["id_super"]): r["containment"]
            for r in D.containment_pairs(df, threshold=0.5).collect()}
    assert rows == {(1, 2): 1.0}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(df, threshold=0.01).collect()}
    assert jac[(1, 2)] < 0.1  # resemblance misses what containment finds


def test_containment_is_directional(docs):
    """Both directions emit independently: identical docs contain each
    other (two rows); a subset-superset pair emits only the sub→super
    direction above threshold."""
    rows = {(r["id_sub"], r["id_super"]): r["containment"]
            for r in D.containment_pairs(docs, threshold=0.9).collect()}
    assert rows[(1, 2)] == 1.0 and rows[(2, 1)] == 1.0


def test_fuzz_containment_cross_engine(spark):
    """Config fuzz: random word docs with planted excerpts, bit-equal
    vs the DuckDB oracle at random (n, threshold). Seed 17320."""
    import random

    import duckdb

    rng = random.Random(17320)
    con = duckdb.connect()
    for trial in range(3):
        n = rng.choice([2, 3])
        thr = rng.choice([0.3, 0.5, 0.8])
        vocab = [f"t{j}" for j in range(30)]
        docs_rows = []
        for i in range(12):
            words = [vocab[rng.randrange(len(vocab))]
                     for _ in range(rng.randrange(5, 25))]
            docs_rows.append((i, " ".join(words)))
        # plant one exact excerpt
        base = docs_rows[0][1]
        docs_rows.append((99, base + " " + docs_rows[1][1]))
        cfg = (trial, n, thr)
        df = spark.createDataFrame(docs_rows, ["doc_id", "text"])
        got = sorted(map(tuple, D.containment_pairs(
            df, n=n, threshold=thr).collect()))
        vals = ", ".join(
            f"({i}, '{t}')" for i, t in docs_rows)
        sh = (
            "w AS (SELECT doc_id, string_split_regex(lower(trim(text)), "
            f"'\\s+') AS ws FROM (SELECT * FROM (VALUES {vals}) "
            "AS t(doc_id, text))), "
            f"sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+{n}], ' ') AS shingle "
            f"FROM w, UNNEST(range(greatest(len(ws)-{n - 1}, 0))) AS t(i))")
        want = sorted(map(tuple, con.execute(
            oracles.dedup.containment_pairs_duckdb_sql(sh, n=n, threshold=thr)
        ).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ----------------------------------------------------- basket rules

def test_basket_rules_hand_computed(spark):
    """4 baskets, hand-computed measures: {a,b} in 2 of 4 baskets,
    a alone in 3, b in 2 → conf(a→b)=2/3, lift=(2·4)/(3·2)=4/3."""
    from flink_sql_security_spark.operators.assoc import basket_rules

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c"),
            (1, "a")]  # duplicate item in basket 1 must not double-count
    out = {(r["antecedent"], r["consequent"]): r for r in basket_rules(
        spark.createDataFrame(rows, ["basket", "item"]),
        basket_col="basket", item_col="item").collect()}
    ab = out[("a", "b")]
    assert ab["n_pair"] == 2 and ab["n_ante"] == 3 and ab["n_cons"] == 2
    assert ab["confidence"] == pytest.approx(2 / 3, abs=1e-6)
    assert ab["lift"] == pytest.approx(4 / 3, abs=1e-6)
    ba = out[("b", "a")]
    assert ba["confidence"] == 1.0       # b always co-occurs with a
    assert ba["lift"] == ab["lift"]      # lift is symmetric
    assert ("a", "c") not in out         # below the support floor


def test_basket_rules_validates_support(spark):
    from flink_sql_security_spark.operators.assoc import basket_rules
    from oracles.assoc import basket_rules_duckdb_sql

    df = spark.createDataFrame([(1, "a")], ["b", "i"])
    with pytest.raises(ValueError, match="min_support"):
        basket_rules(df, basket_col="b", item_col="i", min_support=0)
    with pytest.raises(ValueError, match="min_support"):
        basket_rules_duckdb_sql("t", basket_col="b", item_col="i",
                                min_support=-1)


def test_fuzz_basket_rules_cross_engine(spark):
    """Config fuzz: random baskets × support floor, bit-equal vs the
    DuckDB oracle. Seed 26180."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.assoc import basket_rules
    from oracles.assoc import basket_rules_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(26180)
    for trial in range(4):
        n_b = rng.choice([5, 12])
        n_i = rng.choice([4, 8])
        ms = rng.choice([1, 2, 3])
        rows = [(rng.randrange(n_b), f"i{rng.randrange(n_i)}")
                for _ in range(rng.choice([20, 60]))]
        cfg = (trial, n_b, n_i, ms)
        df = spark.createDataFrame(rows, ["b", "i"])
        got = sorted(map(tuple, basket_rules(
            df, basket_col="b", item_col="i",
            min_support=ms).collect()))
        vals = ", ".join(f"({b}, '{i}')" for b, i in rows)
        want = sorted(map(tuple, con.execute(basket_rules_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(b, i))",
            basket_col="b", item_col="i", min_support=ms)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_basket_rules_hot_basket_cap(spark):
    """max_basket_items keeps the CAP SMALLEST items per basket
    (deterministic truncation) and all measures recompute over the
    capped view: basket 1 = {a..e} capped to 3 keeps {a,b,c}, so
    (a,d) loses its only co-occurrence and n_ante(d) drops."""
    from flink_sql_security_spark.operators.assoc import basket_rules

    rows = ([(1, x) for x in "abcde"]
            + [(2, "a"), (2, "b"), (3, "a"), (3, "d")])
    df = spark.createDataFrame(rows, ["basket", "item"])
    capped = {(r["antecedent"], r["consequent"]): r for r in basket_rules(
        df, basket_col="basket", item_col="item", min_support=1,
        max_basket_items=3).collect()}
    assert ("a", "d") in capped          # survives via basket 3
    assert capped[("a", "d")]["n_pair"] == 1   # basket-1 pair truncated
    assert capped[("a", "d")]["n_ante"] == 3   # a kept everywhere
    assert capped[("a", "d")]["n_cons"] == 1   # d dropped from basket 1
    assert ("a", "e") not in capped      # e truncated from its only basket
    uncapped = {(r["antecedent"], r["consequent"]): r["n_pair"]
                for r in basket_rules(
                    df, basket_col="basket", item_col="item",
                    min_support=1, max_basket_items=None).collect()}
    assert uncapped[("a", "d")] == 2 and ("a", "e") in uncapped
    with pytest.raises(ValueError, match="max_basket_items"):
        basket_rules(df, basket_col="basket", item_col="item",
                     max_basket_items=1)


def test_basket_rules_2to1_hand_computed(spark):
    """Baskets {a,b,c}×2, {a,b}×1, {c}×1 (4 baskets): triple {a,b,c}
    support 2, pair (a,b) support 3 → conf({a,b}→c)=2/3,
    lift = 2·4/(3·3) = 8/9; the rotated rule ({a,c}→b) has
    conf = 2/2 = 1 and lift = 2·4/(2·3) = 4/3."""
    from flink_sql_security_spark.operators.assoc import basket_rules_2to1

    rows = ([(1, x) for x in "abc"] + [(2, x) for x in "abc"]
            + [(3, "a"), (3, "b"), (4, "c")])
    out = {(r["ante_1"], r["ante_2"], r["consequent"]): r
           for r in basket_rules_2to1(
               spark.createDataFrame(rows, ["basket", "item"]),
               basket_col="basket", item_col="item",
               min_support=2).collect()}
    abc = out[("a", "b", "c")]
    assert abc["n_triple"] == 2 and abc["n_ante_pair"] == 3
    assert abc["n_cons"] == 3
    assert abc["confidence"] == pytest.approx(2 / 3, abs=1e-6)
    assert abc["lift"] == pytest.approx(8 / 9, abs=1e-6)
    acb = out[("a", "c", "b")]
    assert acb["n_ante_pair"] == 2 and acb["confidence"] == 1.0
    assert acb["lift"] == pytest.approx(4 / 3, abs=1e-6)
    assert len(out) == 3                 # exactly the three rotations


def test_fuzz_basket_rules_2to1_cross_engine(spark):
    """Config fuzz: random baskets × support floor × cap, bit-equal
    vs the DuckDB oracle. Seed 26181."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.assoc import basket_rules_2to1
    from oracles.assoc import basket_rules_2to1_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(26181)
    nonempty = 0
    for trial in range(4):
        n_b = rng.choice([4, 8])
        n_i = rng.choice([4, 6])
        ms = rng.choice([1, 2])
        cap = rng.choice([3, None])
        rows = [(rng.randrange(n_b), f"i{rng.randrange(n_i)}")
                for _ in range(rng.choice([30, 70]))]
        cfg = (trial, n_b, n_i, ms, cap)
        df = spark.createDataFrame(rows, ["b", "i"])
        got = sorted(map(tuple, basket_rules_2to1(
            df, basket_col="b", item_col="i", min_support=ms,
            max_basket_items=cap).collect()))
        vals = ", ".join(f"({b}, '{i}')" for b, i in rows)
        want = sorted(map(tuple, con.execute(
            basket_rules_2to1_duckdb_sql(
                f"(SELECT * FROM (VALUES {vals}) AS t(b, i))",
                basket_col="b", item_col="i", min_support=ms,
                max_basket_items=cap)).fetchall()))
        assert got == want, cfg
        nonempty += bool(got)
    assert nonempty >= 2   # the fuzz actually exercised triples
    con.close()


# ---------------------------------------------------- feature scaling

def test_feature_scale_zscore_hand_values(spark):
    """Group {2, 4, 6}: μ=4, σ=2 → z = (-1, 0, 1)."""
    from flink_sql_security_spark.operators.profile import feature_scale

    df = spark.createDataFrame(
        [("g", 1, 2.0), ("g", 2, 4.0), ("g", 3, 6.0)], ["g", "id", "v"])
    out = {r["id"]: r["scaled"] for r in feature_scale(
        df, value_col="v", group_cols=["g"], id_cols=["id"]).collect()}
    assert out == {1: -1.0, 2: 0.0, 3: 1.0}


def test_feature_scale_minmax_and_rank(spark):
    from flink_sql_security_spark.operators.profile import feature_scale

    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 40.0), ("g", 4, 20.0)],
        ["g", "id", "v"])
    mm = {r["id"]: r["scaled"] for r in feature_scale(
        df, value_col="v", group_cols=["g"], id_cols=["id"],
        method="minmax").collect()}
    assert mm[1] == 0.0 and mm[3] == 1.0
    assert mm[2] == pytest.approx(1 / 3, abs=1e-6)
    rk = {r["id"]: r["scaled"] for r in feature_scale(
        df, value_col="v", group_cols=["g"], id_cols=["id"],
        method="rank").collect()}
    assert rk[1] == 0.0 and rk[3] == 1.0
    assert rk[2] == rk[4] == pytest.approx(1 / 3, abs=1e-6)  # tied rank


def test_feature_scale_degenerate_groups(spark):
    """Constant group and singleton group: NULL scaled, never a
    divide-by-zero (engine-dependent)."""
    from flink_sql_security_spark.operators.profile import feature_scale

    df = spark.createDataFrame(
        [("c", 1, 5.0), ("c", 2, 5.0), ("s", 3, 9.0)], ["g", "id", "v"])
    for m in ("zscore", "minmax", "rank"):
        out = {r["id"]: r["scaled"] for r in feature_scale(
            df, value_col="v", group_cols=["g"], id_cols=["id"],
            method=m).collect()}
        if m == "rank":
            # an all-tied group has a DEFINED percent_rank (0.0) —
            # only the singleton is degenerate
            assert out[1] == 0.0 and out[2] == 0.0, m
        else:
            assert out[1] is None and out[2] is None, m
        assert out[3] is None, m


def test_feature_scale_validates_args(spark):
    from flink_sql_security_spark.operators.profile import feature_scale
    from oracles.profile import feature_scale_duckdb_sql

    df = spark.createDataFrame([("g", 1, 1.0)], ["g", "id", "v"])
    with pytest.raises(ValueError, match="method"):
        feature_scale(df, value_col="v", group_cols=["g"],
                      id_cols=["id"], method="log")
    with pytest.raises(ValueError, match="non-empty"):
        feature_scale_duckdb_sql("t", value_col="v", group_cols=[],
                                 id_cols=["id"])


def test_fuzz_feature_scale_cross_engine(spark):
    """Config fuzz: random grouped values × method, bit-equal vs the
    DuckDB oracle (quoted-string casts for float literals). Seed
    16183."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.profile import feature_scale
    from oracles.profile import feature_scale_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(16183)
    for trial in range(4):
        method = rng.choice(["zscore", "minmax", "rank"])
        n = rng.choice([10, 40])
        rows = [(f"g{rng.randrange(3)}", i,
                 round(rng.uniform(-100, 100), 6)) for i in range(n)]
        cfg = (trial, method, n)
        df = spark.createDataFrame(rows, ["g", "id", "v"])
        got = sorted(map(tuple, feature_scale(
            df, value_col="v", group_cols=["g"], id_cols=["id"],
            method=method).collect()))
        vals = ", ".join(
            f"('{g}', {i}, CAST('{v!r}' AS DOUBLE))" for g, i, v in rows)
        want = sorted(map(tuple, con.execute(feature_scale_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(g, id, v))",
            value_col="v", group_cols=["g"], id_cols=["id"],
            method=method)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------- correlations

def test_correlations_hand_values(spark):
    """Perfectly correlated, anti-correlated, and constant columns."""
    from flink_sql_security_spark.operators.profile import (
        profile_correlations)

    rows = [(float(i), 2.0 * i + 1, -3.0 * i, 7.0) for i in range(10)]
    out = {(r["col_a"], r["col_b"]): r["corr"]
           for r in profile_correlations(
               spark.createDataFrame(rows, ["x", "y", "z", "c"]),
               ["x", "y", "z", "c"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0
    assert out[("c", "x")] is None          # constant side → NULL
    assert len(out) == 6


def test_correlations_listwise_deletion(spark):
    """A NULL in ANY profiled column drops the whole row — one
    consistent n for every pair."""
    from flink_sql_security_spark.operators.profile import (
        profile_correlations)

    rows = [(1.0, 1.0), (2.0, 2.0), (None, 9.0), (3.0, 3.0)]
    out = profile_correlations(
        spark.createDataFrame(rows, "x double, y double"),
        ["x", "y"]).collect()
    assert out[0]["n"] == 3 and out[0]["corr"] == 1.0


def test_correlations_validates_cols(spark):
    from flink_sql_security_spark.operators.profile import profile_correlations
    from oracles.profile import profile_correlations_duckdb_sql

    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match=">= 2"):
        profile_correlations(df, ["x"])
    with pytest.raises(ValueError, match="duplicate"):
        profile_correlations_duckdb_sql("t", ["x", "x"])


def test_fuzz_correlations_cross_engine(spark):
    """Config fuzz: random column sets with planted linear relations
    and NULLs, bit-equal vs the DuckDB oracle. Seed 16184."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.profile import profile_correlations
    from oracles.profile import profile_correlations_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(16184)
    for trial in range(3):
        n = rng.choice([8, 25])
        rows = []
        for i in range(n):
            x = round(rng.uniform(-50, 50), 4)
            y = round(2.5 * x + rng.uniform(-5, 5), 4)
            z = round(rng.uniform(0, 9), 4) if rng.random() > 0.1 else None
            rows.append((x, y, z))
        cfg = (trial, n)
        df = spark.createDataFrame(rows, "x double, y double, z double")
        got = sorted(map(tuple, profile_correlations(
            df, ["x", "y", "z"]).collect()), key=repr)
        vals = ", ".join(
            "(" + ", ".join(
                "NULL" if v is None else f"CAST('{v!r}' AS DOUBLE)"
                for v in r) + ")"
            for r in rows)
        want = sorted(map(tuple, con.execute(
            profile_correlations_duckdb_sql(
                f"(SELECT * FROM (VALUES {vals}) AS t(x, y, z))",
                ["x", "y", "z"])).fetchall()), key=repr)
        assert got == want and len(got) == 3, cfg
    con.close()


# ------------------------------------------------ embedding profiling

def test_profile_embeddings_hand_values(spark):
    """Two 2-dim vectors (3,0) and (1,0): dim-0 mean 2, std 1; dim-1
    all zero (std 0); norms (3,1) → mean 2, std 1; centroid =
    ‖(2,0)‖ = 2."""
    from flink_sql_security_spark.operators.profile import (
        profile_embeddings)

    df = spark.createDataFrame(
        [(1, [3.0, 0.0]), (2, [1.0, 0.0])], ["vec_id", "embedding"])
    rows = profile_embeddings(df).collect()
    by = {(r["metric"], r["dim"]): r for r in rows}
    d0 = by[("dim", 0)]
    assert (d0["n"], d0["mean"], d0["std"]) == (2, 2.0, 1.0)
    assert (d0["min_v"], d0["max_v"]) == (1.0, 3.0)
    d1 = by[("dim", 1)]
    assert d1["mean"] == 0.0 and d1["std"] == 0.0
    nr = by[("norm", None)]
    assert (nr["n"], nr["mean"], nr["std"]) == (2, 2.0, 1.0)
    assert by[("centroid", None)]["mean"] == 2.0
    assert len(rows) == 4


def test_profile_embeddings_guards(spark):
    import pytest

    from flink_sql_security_spark.operators.profile import profile_embeddings
    from oracles.profile import profile_embeddings_duckdb_sql

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="not 2-dim"):
        profile_embeddings(ragged)
    withnull = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)],
        "vec_id long, embedding array<double>")
    # size(NULL) != dim is NULL-false — the isNull arm must catch it
    # (and dim inference must skip the NULL row, not crash on it)
    with pytest.raises(ValueError, match="NULL"):
        profile_embeddings(withnull)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        profile_embeddings(empty)
    with pytest.raises(ValueError, match="dim"):
        profile_embeddings_duckdb_sql(dim=0)


def test_profile_embeddings_anisotropy_signal(spark):
    """A corpus with a shared bias direction scores a materially larger
    centroid norm than its centered twin — the signal the op exists
    for."""
    from flink_sql_security_spark.operators.profile import (
        profile_embeddings)

    centered = [(i, [(-1.0) ** i, (-1.0) ** (i + 1)]) for i in range(20)]
    biased = [(i, [1.0, 0.1 * ((-1.0) ** i)]) for i in range(20)]

    def centroid(rows):
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        return [r["mean"] for r in profile_embeddings(df).collect()
                if r["metric"] == "centroid"][0]

    assert centroid(centered) == 0.0
    assert centroid(biased) == 1.0


def test_connected_components_star_string_ids(spark):
    """The star-contraction default must converge on STRING node ids —
    the old arithmetic endpoint-sum digest NULLed out on strings and
    broke convergence mid-contraction (round-10 review finding)."""
    pairs = spark.createDataFrame(
        [(c, chr(ord(c) + 1)) for c in "abcdefg"], ["id_a", "id_b"])
    want = {r["doc_id"]: r["component_id"]
            for r in D.connected_components(pairs).collect()}
    got = {r["doc_id"]: r["component_id"]
           for r in D.connected_components(
               pairs, driver_threshold=0).collect()}
    assert got == want and set(got.values()) == {"a"} and len(got) == 8


# ----------------------------------------------------------- privacy

def test_k_anonymize_hand_computed(spark):
    """Classes: (a, 1)×3, (b, 1)×2, (c, NULL)×2, (d, 2)×1 → k=2 keeps
    7 rows incl. the NULL class (null-safe gate); k=3 keeps only the
    a-class; l=2 over the sensitive column drops the homogeneous
    b-class."""
    from flink_sql_security_spark.operators.privacy import k_anonymize

    rows = [("a", 1, "x"), ("a", 1, "y"), ("a", 1, "z"),
            ("b", 1, "s"), ("b", 1, "s"),          # homogeneous class
            ("c", None, "u"), ("c", None, "v"),
            ("d", 2, "w")]
    df = spark.createDataFrame(rows, "q1 string, q2 int, sens string")
    k2 = k_anonymize(df, ["q1", "q2"], k=2)
    assert k2.count() == 7 and k2.where("q1 = 'd'").count() == 0
    assert k2.where("q2 IS NULL").count() == 2    # NULLs form a class
    assert k_anonymize(df, ["q1", "q2"], k=3).count() == 3
    ldiv = k_anonymize(df, ["q1", "q2"], k=2, sensitive_col="sens", l=2)
    assert {r["q1"] for r in ldiv.collect()} == {"a", "c"}
    assert k2.columns == df.columns               # row gate, not transform


def test_anonymity_report_hand_computed(spark):
    from flink_sql_security_spark.operators.privacy import (
        anonymity_report)

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")]
    df = spark.createDataFrame(rows, "q string, sens string")
    [r] = anonymity_report(df, ["q"], sensitive_col="sens").collect()
    assert (r["n_rows"], r["n_classes"], r["k_effective"]) == (4, 2, 1)
    assert r["l_effective"] == 1                  # b-class: one value
    assert r["singleton_classes"] == 1
    assert r["singleton_rows_pct"] == 25.0
    [r2] = anonymity_report(df, ["q"]).collect()
    assert r2["l_effective"] is None


def test_k_anonymize_validates_and_bites(spark):
    """Argument validation + the gate provably suppresses rows on the
    driver fixture (a gate that never bites tests nothing)."""
    import pytest as _pytest

    from flink_sql_security_spark.operators.privacy import anonymity_report, k_anonymize
    from oracles.privacy import k_anonymize_duckdb_sql

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    total = cust.count()
    kept = k_anonymize(cust, ["c_nationkey", "c_mktsegment"],
                       k=6).count()
    assert 0 < kept < total
    [rep] = anonymity_report(cust,
                             ["c_nationkey", "c_mktsegment"]).collect()
    assert rep["k_effective"] < 6 <= rep["n_rows"]
    with _pytest.raises(ValueError, match="k must"):
        k_anonymize(cust, ["c_nationkey"], k=0)
    with _pytest.raises(ValueError, match="non-empty"):
        k_anonymize(cust, [], k=5)
    with _pytest.raises(ValueError, match="together"):
        k_anonymize(cust, ["c_nationkey"], k=5, l=2)
    with _pytest.raises(ValueError, match="duplicate"):
        k_anonymize_duckdb_sql("t", ["a", "a"], 5, ["a"])


def test_fuzz_k_anonymity_cross_engine(spark):
    """Config fuzz: random tables × (k, quasi set, optional l),
    bit-equal vs the DuckDB oracle. Seed 20250."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.privacy import anonymity_report, k_anonymize
    from oracles.privacy import anonymity_report_duckdb_sql, k_anonymize_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(20250)
    for trial in range(4):
        n = rng.choice([40, 120])
        rows = [(rng.randrange(4),
                 rng.choice(["p", "q", None]),
                 rng.randrange(6)) for _ in range(n)]
        k = rng.choice([2, 5])
        use_l = rng.random() < 0.5
        cfg = (trial, n, k, use_l)
        df = spark.createDataFrame(rows, "qa int, qb string, sens int")
        vals = ", ".join(
            f"({a}, {'NULL' if b is None else repr(b)}, {c})"
            for a, b, c in rows)
        tbl = f"(SELECT * FROM (VALUES {vals}) AS t(qa, qb, sens))"

        def key(t):  # None-safe total order for mixed rows
            return [(x is None, str(x)) for x in t]

        got = sorted(map(tuple, k_anonymize(
            df, ["qa", "qb"], k=k,
            **({"sensitive_col": "sens", "l": 2} if use_l else {})
        ).collect()), key=key)
        want = sorted(map(tuple, con.execute(k_anonymize_duckdb_sql(
            tbl, ["qa", "qb"], k, ["qa", "qb", "sens"],
            **({"sensitive_col": "sens", "l": 2} if use_l else {})
        )).fetchall()), key=key)
        assert got == want and len(got) > 0, cfg
        gr = sorted(map(tuple, anonymity_report(
            df, ["qa", "qb"], sensitive_col="sens").collect()))
        wr = sorted(map(tuple, con.execute(anonymity_report_duckdb_sql(
            tbl, ["qa", "qb"], sensitive_col="sens")).fetchall()))
        assert gr == wr, cfg
    con.close()


def test_generalize_hand_computed(spark):
    """Each generalizer kind against hand values; unknown kinds and
    missing columns raise; untouched columns pass through in order."""
    import datetime as dt

    import pytest as _pytest

    from flink_sql_security_spark.operators.privacy import generalize

    rows = [(1, "Customer#000000042", 17, 2547.4, dt.date(2024, 3, 9)),
            (2, "Customer#000000007", -999.99 and 3, -999.99,
             dt.date(1997, 12, 31))]
    df = spark.createDataFrame(
        rows, "id int, name string, nat int, bal double, d date")
    g = generalize(df, {"name": ("mask_show_first", 9),
                        "bal": ("bucket", 2000),
                        "d": ("year",),
                        "nat": ("suppress", "int")})
    assert g.columns == df.columns
    a, b = sorted(g.collect(), key=lambda r: r["id"])
    assert a["name"] == "Customer#xxxxxxxxx"
    assert a["bal"] == 2000.0 and b["bal"] == -2000.0   # floor, not trunc
    assert a["d"] == 2024 and b["d"] == 1997
    assert a["nat"] is None and b["nat"] is None
    assert g.where("id = 1").select("name").first()[0] == \
        "Customer#xxxxxxxxx"
    # prefix kind
    p = generalize(df, {"name": ("prefix", 8)})
    assert p.select("name").distinct().count() == 1   # both 'Customer'
    with _pytest.raises(ValueError, match="unknown generalizer"):
        generalize(df, {"name": ("rot13",)})
    with _pytest.raises(ValueError, match="not in DataFrame"):
        generalize(df, {"zip": ("prefix", 3)})
    with _pytest.raises(ValueError, match="bucket"):
        generalize(df, {"bal": ("bucket", 0)})
    with _pytest.raises(ValueError, match="suppress"):
        generalize(df, {"bal": ("suppress", "decimal")})


def test_generalization_report_hand_computed(spark):
    """Two rungs over a 6-row fixture: raw keeps nothing at k=2 (all
    singletons via the unique id-ish column), the bucketed rung keeps
    the 4 rows that fall in shared bands; kept_pct floor-rounds."""
    from flink_sql_security_spark.operators.privacy import (
        generalization_report)

    rows = [("a", 10.0), ("a", 11.0), ("a", 25.0), ("a", 26.0),
            ("b", 10.5), ("c", 99.0)]
    df = spark.createDataFrame(rows, "seg string, v double")
    ladder = [("raw", {}), ("v10", {"v": ("bucket", 10)})]
    out = {r["rung"]: r for r in generalization_report(
        df, ["seg", "v"], ladder, k=2).collect()}
    assert out["raw"]["k_effective"] == 1
    assert out["raw"]["rows_kept"] == 0
    # v10: classes (a,10)x2, (a,20)x2, (b,10)x1, (c,90)x1
    assert out["v10"]["n_classes"] == 4
    assert out["v10"]["rows_kept"] == 4
    assert out["v10"]["kept_pct"] == 66.666667          # floor-rounded
    assert out["v10"]["l_effective"] is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-quasi"):
        generalization_report(df, ["seg"], ladder, k=2)
    with _pytest.raises(ValueError, match="duplicate rung"):
        generalization_report(df, ["seg", "v"],
                              [("r", {}), ("r", {})], k=2)
    with _pytest.raises(ValueError, match="invalid rung name"):
        generalization_report(df, ["seg", "v"], [("r'; --", {})], k=2)


def test_fuzz_generalization_cross_engine(spark):
    """Config fuzz: random tables × (ladder, k, optional l-diversity),
    report AND generalized release bit-equal vs DuckDB. Seed 46368."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.privacy import generalization_report, generalize, k_anonymize
    from oracles.privacy import generalization_report_duckdb_sql, generalize_duckdb_select, k_anonymize_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(46368)
    for trial in range(4):
        n = rng.choice([50, 140])
        rows = [(i,
                 # NULL names exercise the CASE guard in the oracle's
                 # mask generalizer (DuckDB concat folds NULL to '')
                 (None if rng.random() < 0.1
                  else f"User#{rng.randrange(30):05d}"),
                 rng.choice([None, 1.0, 7.5, 23.0, 88.25, -12.5]),
                 rng.randrange(5)) for i in range(n)]
        k = rng.choice([2, 4])
        width = rng.choice([10, 25])
        m = rng.choice([4, 5])
        use_l = rng.random() < 0.5
        cfg = (trial, n, k, width, m, use_l)
        df = spark.createDataFrame(
            rows, "id int, name string, v double, sens int")
        vals = ", ".join(
            f"({i}, {'NULL' if nm is None else repr(nm)}, "
            f"{'NULL' if v is None else v}, {s})"
            for i, nm, v, s in rows)
        tbl = (f"(SELECT * FROM (VALUES {vals}) "
               f"AS t(id, name, v, sens))")
        ladder = [("raw", {}),
                  ("m", {"name": ("mask_show_first", m)}),
                  ("mb", {"name": ("mask_show_first", m),
                          "v": ("bucket", width)}),
                  ("top", {"name": ("suppress", "string"),
                           "v": ("bucket", width)})]
        quasi = ["name", "v"]
        lkw = ({"sensitive_col": "sens", "l": 2} if use_l else {})
        gr = sorted(map(tuple, generalization_report(
            df, quasi, ladder, k=k, **lkw).collect()))
        wr = sorted(map(tuple, con.execute(
            generalization_report_duckdb_sql(
                tbl, quasi, ladder, k=k, **lkw)).fetchall()))
        assert gr == wr and len(gr) == 4, cfg

        def key(t):
            return [(x is None, str(x)) for x in t]

        spec = ladder[2][1]
        cols = ["id", "name", "v", "sens"]
        got = sorted(map(tuple, k_anonymize(
            generalize(df, spec), quasi, k=k).collect()), key=key)
        sub = (f"(SELECT {generalize_duckdb_select(cols, spec)} "
               f"FROM {tbl})")
        want = sorted(map(tuple, con.execute(k_anonymize_duckdb_sql(
            sub, quasi, k, cols)).fetchall()), key=key)
        assert got == want, cfg
    con.close()


def test_t_closeness_hand_computed(spark):
    """Global sens mix over 6 rows: x=4/6, y=1/6, z=1/6. Class a
    (x,x,x,x): tvd = ½(|1−4/6| + 1/6 + 1/6) = 1/3. Class b (y,z):
    tvd = ½(4/6 + |½−1/6|·2) = 2/3 — the small skewed class
    t-closeness exists to catch. (Classes must differ in SIZE for an
    asymmetric example: with two equal-size classes the global mix is
    their average, so both sit at the same distance from it.)"""
    from flink_sql_security_spark.operators.privacy import (
        t_close_release, t_closeness_report)

    rows = [("a", "x"), ("a", "x"), ("a", "x"), ("a", "x"),
            ("b", "y"), ("b", "z")]
    df = spark.createDataFrame(rows, "q string, sens string")
    rep = {r["q"]: (r["class_n"], r["tvd"])
           for r in t_closeness_report(df, ["q"], "sens").collect()}
    assert rep == {"a": (4, 0.333333), "b": (2, 0.666667)}
    kept = t_close_release(df, ["q"], "sens", t=0.5)
    assert kept.columns == df.columns             # row gate
    assert {r["q"] for r in kept.collect()} == {"a"}
    assert t_close_release(df, ["q"], "sens", t=0.666667).count() == 6
    # a one-class table has tvd 0 by construction
    one = t_closeness_report(df.where("q = 'a'"), ["q"], "sens")
    assert one.first()["tvd"] == 0.0


def test_t_closeness_validates(spark):
    import pytest as _pytest

    from flink_sql_security_spark.operators.privacy import t_close_release, t_closeness_report
    from oracles.privacy import t_close_release_duckdb_sql

    df = spark.createDataFrame([("a", "x")], "q string, sens string")
    with _pytest.raises(ValueError, match="overlaps"):
        t_closeness_report(df, ["q"], "q")
    with _pytest.raises(ValueError, match="non-empty"):
        t_closeness_report(df, [], "sens")
    with _pytest.raises(ValueError, match="t must"):
        t_close_release(df, ["q"], "sens", t=1.5)
    with _pytest.raises(ValueError, match="t must"):
        t_close_release_duckdb_sql("t", ["q"], "sens", -0.1, ["q"])


def test_fuzz_t_closeness_cross_engine(spark):
    """Config fuzz: random tables × quasi sets (with NULL quasi values
    and NULL sensitive values), report AND release bit-equal vs the
    DuckDB oracle. Seed 514229."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.privacy import t_close_release, t_closeness_report
    from oracles.privacy import t_close_release_duckdb_sql, t_closeness_report_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(514229)
    for trial in range(4):
        n = rng.choice([40, 130])
        two_q = rng.random() < 0.5
        rows = [(rng.randrange(4),
                 rng.choice(["p", "q", None]),
                 rng.choice([10, 20, 30, None])) for _ in range(n)]
        t = rng.choice([0.1, 0.3, 0.6])
        cfg = (trial, n, two_q, t)
        df = spark.createDataFrame(rows, "qa int, qb string, sens int")
        vals = ", ".join(
            f"({a}, {'NULL' if b is None else repr(b)}, "
            f"{'NULL' if c is None else c})" for a, b, c in rows)
        tbl = f"(SELECT * FROM (VALUES {vals}) AS t(qa, qb, sens))"
        quasi = ["qa", "qb"] if two_q else ["qa"]

        def key(r):  # None-safe total order for mixed rows
            return [(x is None, str(x)) for x in r]

        gr = sorted(map(tuple, t_closeness_report(
            df, quasi, "sens").collect()), key=key)
        wr = sorted(map(tuple, con.execute(t_closeness_report_duckdb_sql(
            tbl, quasi, "sens")).fetchall()), key=key)
        assert gr == wr and len(gr) > 0, cfg
        got = sorted(map(tuple, t_close_release(
            df, quasi, "sens", t=t).collect()), key=key)
        want = sorted(map(tuple, con.execute(t_close_release_duckdb_sql(
            tbl, quasi, "sens", t, ["qa", "qb", "sens"])).fetchall()),
            key=key)
        assert got == want, cfg
    con.close()


def test_dp_release_properties(spark):
    """Seeded Laplace mechanism: reproducible given the seed, different
    under a different seed, noise within sane bounds (|Laplace(1/ε)|
    at 10^-4 tail ≈ ln(10^4)/ε), clipping bounds one row's influence,
    threshold suppresses a noisy-small group."""
    from flink_sql_security_spark.operators.privacy import dp_count, dp_sum

    rows = ([("a", 1.0)] * 40 + [("b", 2.0)] * 25 + [("solo", 1e9)])
    df = spark.createDataFrame(rows, "g string, v double")
    rel1 = {r["g"]: r["n_noisy"]
            for r in dp_count(df, ["g"], epsilon=1.0, seed="x").collect()}
    rel2 = {r["g"]: r["n_noisy"]
            for r in dp_count(df, ["g"], epsilon=1.0, seed="x").collect()}
    rel3 = {r["g"]: r["n_noisy"]
            for r in dp_count(df, ["g"], epsilon=1.0, seed="y").collect()}
    assert rel1 == rel2                       # reproducible
    assert rel1 != rel3                       # seed-sensitive
    true = {"a": 40, "b": 25, "solo": 1}
    for g, n in rel1.items():
        assert abs(n - true[g]) <= 10.0, (g, n)   # ln(10^4) ≈ 9.2
    # tighter ε → larger noise scale on the same uniform draw
    rel_tight = {r["g"]: r["n_noisy"] for r in dp_count(
        df, ["g"], epsilon=0.1, seed="x").collect()}
    for g in true:
        assert abs(rel_tight[g] - true[g]) >= abs(rel1[g] - true[g]), g
    # clipping: the 1e9 outlier contributes at most clip to its sum
    sums = {r["g"]: r["sum_noisy"] for r in dp_sum(
        df, ["g"], "v", clip=100.0, epsilon=1.0, seed="z").collect()}
    assert sums["solo"] <= 100.0 + 1000.0     # clip + noise tail
    # thresholding drops the noisy-small singleton group
    kept = {r["g"] for r in dp_count(
        df, ["g"], epsilon=1.0, seed="x", threshold=15.0).collect()}
    assert kept == {"a", "b"}


def test_dp_release_validates(spark):
    import pytest as _pytest

    from flink_sql_security_spark.operators.privacy import dp_count, dp_sum
    from oracles.privacy import dp_count_duckdb_sql

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with _pytest.raises(ValueError, match="epsilon"):
        dp_count(df, ["g"], epsilon=0.0, seed="x")
    with _pytest.raises(ValueError, match="seed"):
        dp_count(df, ["g"], epsilon=1.0, seed="bad'seed")
    with _pytest.raises(ValueError, match="seed"):
        dp_count_duckdb_sql("t", ["g"], epsilon=1.0, seed="a|b")
    with _pytest.raises(ValueError, match="clip"):
        dp_sum(df, ["g"], "v", clip=0.0, epsilon=1.0, seed="x")
    with _pytest.raises(ValueError, match="non-empty"):
        dp_count(df, [], epsilon=1.0, seed="x")


def test_fuzz_dp_release_cross_engine(spark):
    """Random tables × (ε, clip, threshold, NULL group values)
    bit-equal vs the DuckDB oracle. Seed 317811. Group keys stay
    string/int (the documented noise-key typing rule)."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.privacy import dp_count, dp_sum
    from oracles.privacy import dp_count_duckdb_sql, dp_sum_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(317811)
    for trial in range(4):
        n = rng.choice([30, 100])
        rows = [(rng.choice(["p", "q", None]),
                 rng.randrange(3),
                 rng.choice([None, -5.0, 3.25, 40.0, 1e6]))
                for _ in range(n)]
        eps = rng.choice([0.5, 1.0, 4.0])
        clip = rng.choice([10.0, 100.0])
        thr = rng.choice([None, 5.0])
        cfg = (trial, n, eps, clip, thr)
        df = spark.createDataFrame(rows, "g string, h int, v double")
        vals = ", ".join(
            f"({'NULL' if g is None else repr(g)}, {h}, "
            f"{'NULL' if v is None else v})" for g, h, v in rows)
        tbl = (f"(SELECT g, CAST(h AS INTEGER) AS h, "
               f"CAST(v AS DOUBLE) AS v FROM (VALUES {vals}) x(g, h, v))")
        got = sorted(tuple(map(str, r)) for r in dp_count(
            df, ["g", "h"], epsilon=eps, seed=f"t{trial}",
            threshold=thr).collect())
        want = sorted(tuple(map(str, r)) for r in con.execute(
            dp_count_duckdb_sql(tbl, ["g", "h"], epsilon=eps,
                                seed=f"t{trial}",
                                threshold=thr)).fetchall())
        assert got == want and len(want) > 0, cfg
        gs = sorted(tuple(map(str, r)) for r in dp_sum(
            df, ["g"], "v", clip=clip, epsilon=eps,
            seed=f"u{trial}").collect())
        ws = sorted(tuple(map(str, r)) for r in con.execute(
            dp_sum_duckdb_sql(tbl, ["g"], "v", clip=clip, epsilon=eps,
                              seed=f"u{trial}")).fetchall())
        assert gs == ws, cfg
    con.close()


def test_rolling_daily_stats_hand_computed(spark):
    """Calendar-gap semantics: days 1,2,3 then a jump to day 10 with a
    3-day window — day 10's rolling stats must cover ONLY day 10 (a
    ROWS frame would wrongly reach back to day 3)."""
    import datetime as dt

    from flink_sql_security_spark.operators.timeseries import (
        rolling_daily_stats)

    def t(d, h=0):
        return dt.datetime(2024, 1, d, h)

    rows = [("a", t(1), 10.0), ("a", t(1, 5), 20.0), ("a", t(2), 30.0),
            ("a", t(3), 40.0), ("a", t(10), 50.0),
            ("b", t(1), 7.5)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, "
                                     "value double")
    out = {(r["event_type"], r["day"].day): r
           for r in rolling_daily_stats(df, window_days=3).collect()}
    assert out[("a", 1)]["n"] == 2 and out[("a", 1)]["total"] == 30.0
    assert out[("a", 3)]["n_roll"] == 4       # days 1+2+3
    assert out[("a", 3)]["total_roll"] == 100.0
    assert out[("a", 3)]["avg_roll"] == 25.0
    # the calendar gap: day 10 sees only itself
    assert out[("a", 10)]["n_roll"] == 1
    assert out[("a", 10)]["total_roll"] == 50.0
    assert out[("b", 1)]["n_roll"] == 1 and out[("b", 1)]["total"] == 7.5
    import pytest as _pytest
    with _pytest.raises(ValueError, match="window_days"):
        rolling_daily_stats(df, window_days=0)


def test_fuzz_rolling_stats_cross_engine(spark):
    """Random event tables × window widths (NULL values, day gaps)
    bit-equal vs the DuckDB oracle. Seed 2178309."""
    import datetime as dt
    import random

    import duckdb

    from flink_sql_security_spark.operators.timeseries import rolling_daily_stats
    from oracles.timeseries import rolling_daily_stats_sql

    con = duckdb.connect()
    rng = random.Random(2178309)
    for trial in range(4):
        n = rng.choice([40, 120])
        wd = rng.choice([1, 3, 7])
        rows = [(rng.choice(["x", "y"]),
                 dt.datetime(2024, 1, rng.randrange(1, 28),
                             rng.randrange(24)),
                 rng.choice([None, -3.25, 10.0, 99.99]))
                for _ in range(n)]
        cfg = (trial, n, wd)
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double")
        vals = ", ".join(
            f"('{g}', TIMESTAMP '{ts}', "
            f"{'NULL' if v is None else v})" for g, ts, v in rows)
        tbl = (f"(SELECT event_type, ts, CAST(value AS DOUBLE) AS value "
               f"FROM (VALUES {vals}) x(event_type, ts, value))")
        got = sorted(tuple(map(str, r)) for r in rolling_daily_stats(
            df, window_days=wd).collect())
        want = sorted(tuple(map(str, r)) for r in con.execute(
            rolling_daily_stats_sql(tbl, window_days=wd)).fetchall())
        assert got == want and len(got) > 0, cfg
    con.close()


def test_secured_dp_release_composes(spark):
    """RLS → DP composition: the secured release equals DP over the
    hand-filtered source (same seed → same noise per surviving group)
    and differs from the unsecured release (the consent gate changes
    the true counts under identical noise)."""
    from flink_sql_security_spark.operators.privacy import dp_count
    from flink_sql_security_spark.presets import USER_EVENTS, demo_context

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.createOrReplaceTempView("events")
    sec = {r["event_type"]: r["n_noisy"] for r in dp_count(
        demo_context(spark).table(USER_EVENTS, "events"),
        ["event_type"], epsilon=1.0, seed="t").collect()}
    hand = {r["event_type"]: r["n_noisy"] for r in dp_count(
        ev.where("user_id % 10 != 0"),
        ["event_type"], epsilon=1.0, seed="t").collect()}
    raw = {r["event_type"]: r["n_noisy"] for r in dp_count(
        ev, ["event_type"], epsilon=1.0, seed="t").collect()}
    assert sec == hand
    assert sec != raw                     # the gate bites pre-noise


def test_basket_rules_3to1_hand_computed(spark):
    """Baskets {a,b,c,d}×2, {a,b,c}×1, {d}×1 (4 baskets): quad
    {a,b,c,d} support 2, triple (a,b,c) support 3 →
    conf({a,b,c}→d) = 2/3, lift = 2·4/(3·3) = 8/9; the rotated rule
    ({a,b,d}→c) has conf = 2/2 = 1 and lift = 2·4/(2·3) = 4/3."""
    from flink_sql_security_spark.operators.assoc import basket_rules_3to1

    rows = ([(1, x) for x in "abcd"] + [(2, x) for x in "abcd"]
            + [(3, x) for x in "abc"] + [(4, "d")])
    out = {(r["ante_1"], r["ante_2"], r["ante_3"], r["consequent"]): r
           for r in basket_rules_3to1(
               spark.createDataFrame(rows, ["basket", "item"]),
               basket_col="basket", item_col="item",
               min_support=2).collect()}
    abcd = out[("a", "b", "c", "d")]
    assert abcd["n_quad"] == 2 and abcd["n_ante_triple"] == 3
    assert abcd["n_cons"] == 3
    assert abcd["confidence"] == pytest.approx(2 / 3, abs=1e-6)
    assert abcd["lift"] == pytest.approx(8 / 9, abs=1e-6)
    abdc = out[("a", "b", "d", "c")]
    assert abdc["n_ante_triple"] == 2 and abdc["confidence"] == 1.0
    assert abdc["lift"] == pytest.approx(4 / 3, abs=1e-6)
    assert len(out) == 4                 # exactly the four rotations


def test_fuzz_basket_rules_3to1_cross_engine(spark):
    """Config fuzz: random baskets × support floor × cap, bit-equal
    vs the DuckDB oracle. Seed 75025."""
    import random

    import duckdb
    import pandas as pd

    from flink_sql_security_spark.operators.assoc import basket_rules_3to1
    from oracles.assoc import basket_rules_3to1_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(75025)
    nonempty = 0
    for trial in range(4):
        n_b = rng.choice([5, 10])
        n_i = rng.choice([5, 7])
        ms = rng.choice([1, 2])
        cap = rng.choice([4, None])
        rows = [(rng.randrange(n_b), f"i{rng.randrange(n_i)}")
                for _ in range(rng.choice([50, 90]))]
        cfg = (trial, n_b, n_i, ms, cap)
        df = spark.createDataFrame(rows, ["basket", "item"])
        got = sorted(map(tuple, basket_rules_3to1(
            df, basket_col="basket", item_col="item", min_support=ms,
            max_basket_items=cap).collect()))
        con.register(f"t{trial}", pd.DataFrame(
            rows, columns=["basket", "item"]))
        want = sorted(map(tuple, con.execute(
            basket_rules_3to1_duckdb_sql(
                f"t{trial}", basket_col="basket", item_col="item",
                min_support=ms, max_basket_items=cap)).fetchall()))
        assert got == want, cfg
        nonempty += bool(got)
    assert nonempty >= 3
    con.close()

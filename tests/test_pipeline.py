"""Training-data pipeline operator tests: text analysis, dedup family,
similarity search, multimodal plumbing. DuckDB oracles where the operation is
SQL-portable; property/golden tests otherwise."""

import hashlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from hyperdx_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    from hyperdx_spark.io import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    from hyperdx_spark.io import load_table

    return load_table(spark, sf_dir, "embeddings")


def duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def norm(rows):
    return sorted(
        [tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows],
        key=repr,
    )


# ------------------------------------------------------------------ text

def test_token_count_oracle(spark, sf_dir, documents):
    got = documents.select(
        "doc_id", text.token_count("text").alias("n_tokens")
    ).collect()
    want = duck(
        sf_dir,
        """
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t != '')) AS n_tokens
        FROM documents
        """,
    )
    assert norm([tuple(r) for r in got]) == norm(want)


def test_fingerprint_md5_portable(spark, sf_dir, documents):
    got = documents.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    want = duck(
        sf_dir,
        "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM documents",
    )
    assert norm([tuple(r) for r in got]) == norm(want)


def test_analyze_shape(spark, documents):
    out = text.analyze(documents).limit(5).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in ("en", "unknown")
        assert len(r["fp"]) == 32


def test_stopword_ratio_bounds(spark, documents):
    out = documents.select(text.stopword_ratio("text").alias("r")).agg(
        F.min("r"), F.max("r")
    ).collect()[0]
    assert 0.0 <= out[0] <= out[1] <= 1.0


# ------------------------------------------------------------------ dedup

def test_exact_duplicates(spark, documents):
    # inject known duplicates
    dup = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    df = documents.unionByName(dup)
    groups = dedup.exact_duplicates(df)
    dupes = groups.where(F.col("n_copies") > 1).collect()
    assert len(dupes) == 3
    assert all(r["keep_id"] < 100000 for r in dupes)
    kept = dedup.drop_exact_duplicates(df)
    assert kept.count() == documents.count()


def test_ngram_jaccard_exact_pair(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # 9 tokens -> 7 trigrams each; docs share 6 -> jaccard 6/8
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["jaccard"] == pytest.approx(6 / 8)


def test_minhash_finds_near_dups(spark, documents):
    """Near-identical docs (one word changed) must collide in some band."""
    mutated = documents.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    df = documents.select("doc_id", "text").unionByName(mutated)
    pairs = dedup.minhash_lsh_pairs(df, verify_threshold=0.5).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    for i in range(5):
        assert any(a == i and b == i + 100000 for a, b in found), (i, found)


def test_minhash_no_false_high_jaccard(spark, documents):
    """Verified jaccard must equal exact shingle jaccard (verification step
    is exact, so every returned pair is a true near-dup)."""
    pairs = dedup.minhash_lsh_pairs(
        documents.select("doc_id", "text"), verify_threshold=0.8
    )
    for p in pairs.limit(5).collect():
        assert p["jaccard"] >= 0.8


def test_simhash_deterministic_and_blocking(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h1 = df.select(dedup.simhash("text").alias("h")).collect()[0]["h"]
    h2 = df.select(dedup.simhash("text").alias("h")).collect()[0]["h"]
    assert h1 == h2
    # identical docs -> hamming 0 pair
    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_duplicates(two).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


# ------------------------------------------------------------------ similarity

def test_cosine_topk_oracle(spark, sf_dir, embeddings):
    got = similarity.cosine_topk(
        embeddings, embeddings.where(F.col("vec_id") < 3), k=5
    ).collect()
    want = duck(
        sf_dir,
        """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        scored AS (
          SELECT q.query_id, e.vec_id AS match_id,
                 list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
          FROM embeddings e, q WHERE e.vec_id != q.query_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rank
          FROM scored)
        SELECT query_id, match_id, cos, rank FROM ranked WHERE rank <= 5
        """,
    )
    got_n = norm([(r["query_id"], r["match_id"], r["cos"], r["rank"]) for r in got])
    assert got_n == norm(want)


def test_lsh_recall_against_exact(spark, embeddings):
    """LSH top-1 must agree with exact top-1 for most queries (recall check,
    not exactness — banding is approximate by design)."""
    qs = embeddings.where(F.col("vec_id") < 20)
    exact = {
        r["query_id"]: r["match_id"]
        for r in similarity.cosine_topk(embeddings, qs, k=1).collect()
    }
    approx = {
        r["query_id"]: r["match_id"]
        for r in similarity.cosine_topk_lsh(
            embeddings, qs, k=1, num_planes=16, bands=8
        ).collect()
    }
    hits = sum(1 for q, m in exact.items() if approx.get(q) == m)
    assert hits >= len(exact) * 0.5, (hits, len(exact))


def test_cosine_pairs_threshold(spark, embeddings):
    out = similarity.cosine_pairs(embeddings, threshold=0.99)
    for r in out.limit(5).collect():
        assert r["cos"] >= 0.99


def test_cosine_pairs_exhaustive_is_a_recall_superset(spark, embeddings):
    """r14: the exhaustive mode (the gate's provably-recall-1 config) must
    return every banded pair and any boundary pairs the banding missed —
    LSH output is always a subset of exhaustive output."""
    sub = embeddings.where(F.col("vec_id") < 200)
    ex = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(
            sub, threshold=0.5, exhaustive=True
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(
            sub, threshold=0.5, min_expected_recall=None
        ).collect()
    }
    assert lsh <= ex
    # and the exhaustive set matches a driver-side numpy recompute
    import numpy as np

    rows = sub.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    want = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if cos >= 0.5:
                want.add((a, b))
    assert ex == want


# ------------------------------------------------------------------ multimodal

def test_codecs_roundtrip():
    import numpy as np

    from hyperdx_spark.pipeline import codecs

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)
    gray = rng.integers(0, 256, (5, 8), dtype=np.uint8)
    assert np.array_equal(
        codecs.decode_png(codecs.encode_png(gray))[:, :, 0], gray
    )
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(img)), img)
    samples = (rng.integers(-32768, 32767, 500)).astype(np.int16)
    back, rate = codecs.decode_wav(codecs.encode_wav(samples, rate=8000))
    assert rate == 8000 and np.array_equal(back, samples)
    frames = rng.integers(0, 256, (3, 16, 16), dtype=np.uint8)
    fback, fps = codecs.decode_y4m(codecs.encode_y4m(frames, fps=5))
    assert fps == 5 and np.array_equal(fback, frames)


def test_png_filters_decode():
    """Foreign PNGs may use Sub/Up/Average/Paeth filters — craft filtered
    scanlines manually and check the unfilter logic."""
    import struct
    import zlib

    import numpy as np

    from hyperdx_spark.pipeline import codecs

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    # encode each row with a different filter type
    rows = []
    prev = np.zeros(12, np.uint8)
    flat = img.reshape(4, 12)
    # row 0: filter 1 (Sub)
    r = flat[0].astype(np.int16).copy()
    r[3:] -= flat[0][:-3]
    rows.append(bytes([1]) + bytes((r & 0xFF).astype(np.uint8)))
    # row 1: filter 2 (Up)
    rows.append(bytes([2]) + bytes(((flat[1].astype(np.int16) - flat[0]) & 0xFF).astype(np.uint8)))
    # row 2: filter 3 (Average)
    prev = flat[1]
    cur = flat[2].astype(np.int16).copy()
    for x in range(12):
        left = int(flat[2][x - 3]) if x >= 3 else 0
        cur[x] -= (left + int(prev[x])) // 2
    rows.append(bytes([3]) + bytes((cur & 0xFF).astype(np.uint8)))
    # row 3: filter 0
    rows.append(bytes([0]) + bytes(flat[3]))
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    data = (
        codecs.PNG_MAGIC
        + codecs._png_chunk(b"IHDR", ihdr)
        + codecs._png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + codecs._png_chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(data), img)


def test_multimodal_real_decode(spark, documents):
    media = multimodal.media_from_documents(documents.limit(21))
    rows = multimodal.decode_media(media, fake=False).collect()
    assert len(rows) == 21
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["features"]) == 8
        if r["kind"] == "image":
            assert r["width"] == 32 and r["height"] >= 2
        if r["kind"] == "audio":
            assert r["height"] == 8000  # sample rate
        if r["kind"] == "video":
            assert (r["width"], r["height"]) == (16, 16)


def test_multimodal_jpeg_unsupported(spark):
    import pandas as pd

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff\xe0fakejpeg"))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="JPEG"):
        multimodal.decode_media(media, fake=False).collect()


def test_resize_and_frame_sample_real(spark, sf_dir):
    import numpy as np

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import codecs, multimodal

    media = multimodal.media_from_documents(
        load_table(spark, sf_dir, "documents").limit(21)
    )
    images = media.where("kind = 'image'")
    resized = multimodal.resize_images(images, width=4, height=4).collect()
    assert resized
    for r in resized:
        arr = codecs.decode_png(bytes(r["payload"]))
        assert arr.shape[:2] == (4, 4)

    videos = media.where("kind = 'video'")
    frames = multimodal.sample_frames(videos, every_ms=200, max_frames=4).collect()
    assert frames
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    for frs in by_id.values():
        idxs = [f["frame_idx"] for f in sorted(frs, key=lambda x: x["frame_idx"])]
        assert idxs == list(range(len(idxs)))
        for f in frs:
            arr = codecs.decode_png(bytes(f["frame"]))
            assert arr.shape[:2] == (16, 16)


# ------------------------- deterministic sampling (pipeline/sampling.py)

def test_hash_sample_exact_oracle(spark, sf_dir):
    import duckdb

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.hash_sample(docs, 0.3, id_col="doc_id", seed=7)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    thr = int(0.3 * 16**15)
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')
            WHERE CAST(('0x' || substring(md5(doc_id::VARCHAR || ':7'), 1, 15)) AS BIGINT) < {thr}
            """
        ).fetchall()
    )
    assert got == want
    n = len(got)
    total = docs.count()
    assert 0.15 * total < n < 0.45 * total  # roughly the asked fraction
    # composability: sub-sampling with another seed intersects multiplicatively
    sub = sampling.hash_sample(out, 0.5, id_col="doc_id", seed=8).count()
    assert 0 < sub < n


def test_stratified_sample_exact_oracle(spark, sf_dir):
    import duckdb

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample(docs, ["lang"], 5, id_col="doc_id", seed=42)
    got = sorted((r["lang"], r["doc_id"]) for r in out.select("lang", "doc_id").collect())
    con = duckdb.connect()
    want = sorted(
        (r[0], r[1])
        for r in con.execute(
            f"""
            SELECT lang, doc_id FROM (
              SELECT lang, doc_id,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id) AS rk
              FROM read_parquet('{sf_dir}/documents.parquet')) WHERE rk <= 5
            """
        ).fetchall()
    )
    assert got == want
    counts = {}
    for lang, _ in got:
        counts[lang] = counts.get(lang, 0) + 1
    assert all(c == 5 for c in counts.values())  # every stratum filled


def test_train_holdout_split_stable(spark, sf_dir):
    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import sampling

    docs = load_table(spark, sf_dir, "documents")
    s1 = sampling.train_holdout_split(docs, 0.2, id_col="doc_id")
    s2 = sampling.train_holdout_split(docs.orderBy("n_chars"), 0.2, id_col="doc_id")
    a = {(r["doc_id"], r["split"]) for r in s1.select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"]) for r in s2.select("doc_id", "split").collect()}
    assert a == b  # assignment is row-order independent
    holdout = sum(1 for _, s in a if s == "holdout")
    assert 0.05 * len(a) < holdout < 0.4 * len(a)
    with __import__("pytest").raises(ValueError):
        sampling.train_holdout_split(docs, 1.5, id_col="doc_id")


def test_token_budget_mix(spark, sf_dir):
    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import sampling, text

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", text.token_count("text")
    )
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    total = docs.agg({"n_tokens": "sum"}).collect()[0][0]
    budget = int(total * 0.4)
    out = sampling.token_budget_mix(
        {"even": a, "odd": b},
        {"even": 3.0, "odd": 1.0},
        budget,
        id_col="doc_id",
        token_count_col="n_tokens",
    )
    got = (
        out.groupBy("source")
        .agg({"n_tokens": "sum"})
        .collect()
    )
    sums = {r["source"]: r["sum(n_tokens)"] for r in got}
    # even gets ~3x odd's budget; hash sampling is approximate but the
    # ratio should be clearly ordered and both shares non-empty
    assert sums["even"] > sums["odd"] > 0
    # determinism: same inputs -> identical selection
    out2 = sampling.token_budget_mix(
        {"even": a, "odd": b},
        {"even": 3.0, "odd": 1.0},
        budget,
        id_col="doc_id",
        token_count_col="n_tokens",
    )
    ids = lambda d: sorted(r["doc_id"] for r in d.select("doc_id").collect())
    assert ids(out) == ids(out2)
    # an oversized budget caps at max_oversample=1.0 (no row repetition)
    all_of_it = sampling.token_budget_mix(
        {"even": a, "odd": b},
        {"even": 1.0, "odd": 1.0},
        int(total * 100),
        id_col="doc_id",
        token_count_col="n_tokens",
    )
    assert all_of_it.count() == docs.count()
    with __import__("pytest").raises(ValueError):
        sampling.token_budget_mix({"x": a}, {"y": 1.0}, 10, id_col="doc_id", token_count_col="n_tokens")


# -------------------- repetition signals (Gopher rules, pipeline/text.py)

def test_repetition_stats_vs_python_reference(spark, sf_dir):
    import re
    from collections import Counter

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (
            r["dup_line_frac"],
            r["top_ngram"],
            r["top_ngram_count"],
            r["top_ngram_char_frac"],
        )
        for r in T.repetition_stats(docs, ngram=2).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        txt = r["text"]
        lines = [l for l in txt.split("\n") if l.strip()]
        dup = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
        toks = [t for t in re.split(r"[^a-zA-Z0-9]+", txt.lower()) if t]
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        gd, gg, gc, gf = got[r["doc_id"]]
        assert abs(gd - dup) < 1e-12
        if not grams:
            assert gg is None and gc == 0 and gf == 0.0
            continue
        cnt = Counter(grams)
        top_gram, top_n = max(cnt.items(), key=lambda kv: (kv[1], kv[0]))
        frac = min(top_n * len(top_gram) / len(txt), 1.0) if txt else 0.0
        assert (gg, gc) == (top_gram, top_n)
        assert abs(gf - frac) < 1e-12


def test_duplicate_line_fraction_crafted(spark):
    from hyperdx_spark.pipeline import text as T

    df = spark.createDataFrame(
        [
            (1, "a\nb\na\n\n  \nc"),   # 4 non-blank lines, 1 dup -> 0.25
            (2, "x\nx\nx"),             # 3 lines, 2 dups -> 2/3
            (3, ""),                     # no lines -> 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["f"] for r in df.select(
        "doc_id", T.duplicate_line_fraction("text").alias("f")).collect()}
    assert out[1] == 0.25
    assert abs(out[2] - 2 / 3) < 1e-12
    assert out[3] == 0.0


def test_redact_pii_vs_python_reference(spark, sf_dir):
    import re as _re

    from hyperdx_spark.pipeline import text as T

    crafted = [
        (1, "mail me at jane.doe+x@corp.example.org or call +1 555-123-4567."),
        (2, "server 192.168.0.17 responded; card 4111 1111 1111 1111 declined"),
        (3, "no pii here, just text with numbers 42 and 3.5"),
        (4, ""),
    ]
    df = spark.createDataFrame(crafted, "doc_id long, text string")
    out = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", T.redact_pii("text").alias("red")).collect()}
    for doc_id, txt in crafted:
        want = txt
        for kind, pat in T.PII_PATTERNS.items():
            want = _re.sub(pat, f"<{kind.upper()}>", want)
        assert out[doc_id] == want, (doc_id, out[doc_id], want)
    assert "<EMAIL>" in out[1] and "<PHONE>" in out[1]
    assert "<IPV4>" in out[2] and "<CARD>" in out[2]
    assert out[3] == crafted[2][1]
    counts = df.select(
        "doc_id", *[v.alias(k) for k, v in T.pii_counts("text").items()]
    ).collect()
    got = {r["doc_id"]: (r["email"], r["ipv4"]) for r in counts}
    assert got[1] == (1, 0) and got[2] == (0, 1) and got[3] == (0, 0)


def test_char_entropy_vs_python_reference(spark, sf_dir):
    import math
    from collections import Counter

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    crafted = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["e"] for r in crafted.select(
        "doc_id", T.char_entropy("text").alias("e")).collect()}
    assert out[1] == 0.0            # single symbol
    assert abs(out[2] - 1.0) < 1e-12  # two symbols, uniform
    assert abs(out[3] - 2.0) < 1e-12  # four symbols, uniform
    assert out[4] == 0.0

    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = {r["doc_id"]: r["e"] for r in docs.select(
        "doc_id", T.char_entropy("text").alias("e")).collect()}
    for r in docs.select("doc_id", "text").collect():
        cnt = Counter(r["text"].lower())
        n = sum(cnt.values())
        want = -sum(v / n * math.log2(v / n) for v in cnt.values()) if n else 0.0
        assert abs(got[r["doc_id"]] - want) < 1e-9


def test_char_entropy_arrow_matches_column_path(spark, sf_dir):
    """Arrow fast path == Catalyst fold on real docs; 1 MB microbench note:
    the arrow path measured ~3 ms/row vs ~1.1 s/row for the interpreted
    HOF fold (local[4], 1 MB random-ish text), which is why large-doc
    corpora should pass arrow=True."""
    import random
    import time

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    docs = load_table(spark, sf_dir, "documents").limit(50)
    rows = docs.select(
        "doc_id",
        T.char_entropy("text").alias("col_e"),
        T.char_entropy("text", arrow=True).alias("arrow_e"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["col_e"] - r["arrow_e"]) < 1e-9

    nulls = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    ).select(T.char_entropy("text", arrow=True).alias("e")).collect()
    # NULL and empty both 0.0 — matching the Column path and the DuckDB
    # oracle CASE, so avg() aggregates see identical row sets everywhere
    assert nulls[0]["e"] == 0.0 and nulls[1]["e"] == 0.0

    # 1 MB docs synthesized executor-side (seed repeated 10k times) so the
    # measurement is the operator, not driver->executor shipping of a local
    # relation; seed chosen with 24 distinct chars like real text
    seed = "".join(
        random.Random(0).choice("abcdefghij KLMNOP0123.!?") for _ in range(100)
    )
    from pyspark.sql import functions as F

    big = (
        spark.range(64)
        .select(
            F.col("id").alias("doc_id"),
            F.repeat(F.concat(F.lit(seed), F.col("id").cast("string")), 10_000).alias(
                "text"
            ),
        )
        .persist()
    )
    # warm the Python worker pool so the measurement is per-row throughput,
    # not the one-time worker spin-up / first-job scheduling cost (~1.5 s on
    # this box); 64 rows amortizes the remaining per-job fixed overhead.
    # Measured marginal cost: ~8 ms per 1 MB row (numpy core is ~3 ms).
    big.select(T.char_entropy("text", arrow=True).alias("e")).collect()
    t0 = time.time()
    big.select(T.char_entropy("text", arrow=True).alias("e")).collect()
    per_row = (time.time() - t0) / 64
    big.unpersist()
    assert per_row < 0.05, f"arrow entropy too slow: {per_row*1000:.0f} ms/row"


def test_phone_pattern_skips_timestamps(spark):
    from hyperdx_spark.pipeline import text as T

    df = spark.createDataFrame(
        [
            (1, "call +14155551234 now"),
            (2, "or (415) 555-1234 ext 9"),
            (3, "2024-01-02 03:04:05 INFO started"),  # must NOT redact
            (4, "span 1234.5678 took 12.5 ms"),       # must NOT redact
            (5, "dial 415-555-1234."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", T.redact_pii("text", kinds=["phone"]).alias("red")).collect()}
    assert "<PHONE>" in out[1] and "<PHONE>" in out[2] and "<PHONE>" in out[5]
    assert out[3] == "2024-01-02 03:04:05 INFO started"
    assert out[4] == "span 1234.5678 took 12.5 ms"


def test_bpe_token_count_vs_python_reference(spark, sf_dir):
    """GPT-2 pre-tokenizer piece counts vs a pure-Python re reference (the
    `regex` module pattern minus the RE2-incompatible lookahead branch)."""
    import re

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    # Python re lacks \p{L}; mirror with ASCII classes on ASCII fixtures
    pat = re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
    )
    docs = load_table(spark, sf_dir, "documents").limit(50)
    rows = docs.select(
        "doc_id", "text", T.bpe_token_count("text").alias("n")
    ).collect()
    assert rows
    for r in rows:
        expect = sum(1 for m in pat.finditer(r["text"]) if m.group().strip())
        assert r["n"] == expect, (r["doc_id"], r["n"], expect)
    # pieces lower-bound real BPE counts; sanity on the alnum tokenizer too
    counts = docs.select(
        T.token_count("text").alias("alnum"), T.bpe_token_count("text").alias("bpe")
    ).collect()
    assert all(c["bpe"] >= c["alnum"] for c in counts)  # punctuation adds pieces
    # tab/newline runs are NOT tokens (trim() would only strip spaces)
    ws = spark.createDataFrame([(1, "a\n\nb\tword")], "doc_id long, text string")
    assert ws.select(T.bpe_token_count("text").alias("n")).collect()[0]["n"] == 3


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _winnow_reference(text: str, k: int = 8, w: int = 16) -> list[int]:
    """Plain-Python winnowing fingerprints (Schleimer'03), the spec the
    rows form is held to: the engine's normalization (lower, trim spaces,
    collapse Java ``\\s`` runs to one space), the md5 60-bit prefix of every
    k-gram (one gram when the text is shorter than k), the minimum of every
    w-window of grams (one window when there are fewer than w), sorted
    distinct. Empty text has no fingerprints."""
    norm = _JAVA_WS.sub(" ", text.lower().strip(" "))
    if not norm:
        return []
    grams = [
        int(hashlib.md5(norm[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
        for i in range(max(len(norm) - k + 1, 1))
    ]
    m = len(grams)
    return sorted({min(grams[j : j + min(w, m)]) for j in range(max(m - w + 1, 1))})


def _winnow_rows(df, **kw) -> dict:
    """{doc id: sorted distinct fingerprints} from the engine's rows form."""
    return {
        r["id"]: list(r["f"])
        for r in text.winnow_fingerprint_rows(df, **kw)
        .groupBy("id").agg(F.sort_array(F.collect_set("f")).alias("f"))
        .collect()
    }


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer'03 thm): documents sharing a substring
    of length >= w + k - 1 share at least one fingerprint."""
    k, w = 8, 16
    shared = "x" * 0 + "this exact sentence is long enough to be guaranteed"
    assert len(shared) >= w + k - 1
    docs = [
        (1, "prefix alpha " + shared + " suffix one"),
        (2, "totally different start " + shared + " and another ending"),
        (3, "no overlap with anything else at all, none whatsoever"),
    ]
    ref = {d: _winnow_reference(t, k=k, w=w) for d, t in docs}
    fps = {d: set(f) for d, f in ref.items()}
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3] or fps[2] & fps[3])
    # deterministic: sorted distinct
    assert ref[1] == sorted(set(ref[1]))
    # the engine's rows form selects exactly these fingerprints
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert _winnow_rows(df, k=k, w=w) == ref


def test_winnow_pairs_partial_copy(spark):
    from hyperdx_spark.pipeline import dedup

    quote = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, quote * 2),
            (2, "completely unrelated document about query optimizers"),
            (3, "a report that quotes: " + quote + " as its only overlap"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.winnow_pairs(df, threshold=0.05).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 3)]
    # max_fp_df=1 drops every shared fingerprint -> no pairs survive
    assert dedup.winnow_pairs(df, threshold=0.05, max_fp_df=1).count() == 0


def test_winnow_rows_form_matches_reference(spark, sf_dir):
    """The corpus-scale rows form (posexplode + frame-aggregate sliding min)
    must select exactly the fingerprints of the plain-Python reference,
    which is the spec (and what the DuckDB oracle replays)."""
    from hyperdx_spark.io import load_table

    sample = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    docs = spark.createDataFrame(sample.collect(), sample.schema)
    ref = {r["doc_id"]: _winnow_reference(r["text"]) for r in docs.collect()}
    rows_form = _winnow_rows(docs)
    # rows form omits empty-text docs entirely; otherwise identical
    assert set(ref) - set(rows_form) == {d for d, f in ref.items() if not f}
    for d, f in rows_form.items():
        assert f == ref[d]


def test_gopher_and_c4_filters_vs_python_reference(spark, sf_dir):
    """Gopher (Rae'21 A1.1) + C4 (Raffel'20 §2.2) filter flags vs a plain
    Python re-implementation of the paper rules, over crafted docs + the
    corpus sample."""
    import re

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    def py_gopher(t):
        if t is None:
            return None
        ws = [w for w in re.split(r"\s+", t.strip()) if w]
        n = len(ws)
        mean = (sum(len(w) for w in ws) / n) if n else 0.0
        sym = (t.count("#") + t.count("...")) / n if n else 0.0
        lines = [l for l in t.split("\n") if l.strip()]
        nl = len(lines)
        bullets = sum(1 for l in lines if l.lstrip().startswith(("-", "*", "•")))
        ells = sum(1 for l in lines if l.rstrip().endswith(("...", "…")))
        alpha = sum(1 for w in ws if re.search("[A-Za-z]", w)) / n if n else 0.0
        toks = [x for x in re.split("[^a-zA-Z0-9]+", t.lower()) if x]
        stops = sum(1 for s in T.GOPHER_STOPWORDS if s in toks)
        return (
            50 <= n <= 100_000 and 3.0 <= mean <= 10.0 and sym <= 0.1
            and (bullets / nl if nl else 0.0) <= 0.9
            and (ells / nl if nl else 0.0) <= 0.3
            and alpha >= 0.8 and stops >= 2
        )

    def py_c4(t):
        if t is None:
            return None
        lines = [l for l in t.split("\n") if l.strip()]
        kept = [
            l for l in lines
            if l.rstrip().endswith((".", "!", "?", '"'))
            and len([w for w in re.split(r"\s+", l.strip()) if w]) >= 3
        ]
        cleaned = "\n".join(kept)
        sents = len([s for s in re.split("[.!?]", cleaned) if s.strip()])
        return (
            "lorem ipsum" not in t.lower() and "{" not in t and sents >= 5
        )

    crafted = [
        (101, "Short."),
        (102, "A sensible paragraph of english prose with the usual words, "
              "and it continues to ramble on with that familiar rhythm of "
              "text that one would have expected to see in a web corpus. " * 3),
        (103, "- a\n- b\n- c\n" * 30),
        (104, "waiting... for more... always more...\n" * 40),
        (105, "x { code(); }"),
        (106, None),
    ]
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
        .unionByName(spark.createDataFrame(crafted, "doc_id long, text string"))
    )
    out = T.c4_filter(T.gopher_filter(docs))
    for r in out.select("doc_id", "text", "gopher_pass", "c4_keep").collect():
        assert bool(r["gopher_pass"]) == bool(py_gopher(r["text"])), r["doc_id"]
        # NULL text: SQL three-valued AND collapses to False via the
        # sentence-count conjunct; the Python reference returns None -> both
        # mean "not kept"
        assert bool(r["c4_keep"]) == bool(py_c4(r["text"])), r["doc_id"]


def test_gopher_c4_keep_only(spark):
    from hyperdx_spark.pipeline import text as T

    good = ("A sensible paragraph of english prose with the usual words, "
            "and it continues on with that familiar rhythm of text that "
            "one would have expected to see in a curated web corpus. ") * 6
    df = spark.createDataFrame(
        [(1, good), (2, "tiny"), (3, good + " {")],
        "doc_id long, text string",
    )
    kept = T.gopher_filter(df, keep_only=True)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {1, 3}
    c4kept = T.c4_filter(df, keep_only=True)  # 6 sentences >= 5; '{' drops 3
    assert {r["doc_id"] for r in c4kept.select("doc_id").collect()} == {1}
    # cleaned text drops non-terminal lines
    row = T.c4_filter(df).where("doc_id = 2").collect()[0]
    assert row["text_c4"] == ""


def test_c4_span_dedup(spark):
    """C4 3-sentence-span dedup: duplicated spans removed from all but the
    first (doc, position); untouched docs rebuild byte-exact."""
    from hyperdx_spark.pipeline import dedup

    shared = ("One common sentence here. Another shared line follows! "
              "A third shared part? ")
    rows = [
        (1, "Unique opener for doc one. " + shared + "And a unique closer."),
        (2, "Different start entirely. " + shared + "With its own ending."),
        (3, "Totally unrelated content. No shared spans at all. Own text."),
        (4, ""),
        (5, "Short. Doc."),  # < span sentences -> untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.duplicate_span_removal(df).collect()}
    assert out[1]["n_dropped"] == 0  # first occurrence keeps the span
    assert out[2]["n_dropped"] == 3
    assert shared.rstrip() not in out[2]["text_dedup"]
    for d in (1, 3, 5):
        assert out[d]["text_dedup"] == rows[d - 1][1]  # byte-exact rebuild
    assert out[4]["text_dedup"] == "" and out[4]["n_sentences"] == 0
    # sentence segmentation is a partition of the input: concatenating the
    # sentences of any doc reproduces it exactly even with odd spacing
    tricky = "No terminal punctuation at the end... see?  double  spaces"
    df2 = spark.createDataFrame([(9, tricky)], "doc_id long, text string")
    r = dedup.duplicate_span_removal(df2).collect()[0]
    assert r["text_dedup"] == tricky


def test_exact_substring_window_dedup_vs_reference(spark):
    """duplicate_window_removal == an independent brute-force ExactSubstr
    reference (Lee et al. 2021 §3.1 at token-unit granularity): all
    duplicated k-token windows found, keeper = min (doc, pos), overlapping
    duplicates drop their union, untouched docs rebuild byte-exact."""
    import re as _re

    from hyperdx_spark.pipeline import dedup

    boiler = "all rights reserved contact us terms of service apply now "
    rows = [
        (1, "first page intro " + boiler + "unique tail one"),
        (2, "second page other intro " + boiler + "different tail"),
        (3, boiler + boiler.rstrip()),  # self-repeat inside one doc
        (4, "no duplication in this document at all whatsoever truly"),
        (5, ""),
        (6, "short doc"),
    ]
    k = 5

    def units(text):
        # the operator's EXPLICIT whitespace class (dialect-identical)
        return _re.findall(
            r"[^ \t\n\r\f]+[ \t\n\r\f]*|[ \t\n\r\f]+", text
        )

    # brute-force reference
    occ = {}
    for doc_id, text in rows:
        u = units(text)
        for i in range(len(u) - k + 1):
            occ.setdefault("".join(u[i : i + k]), []).append((doc_id, i))
    drops = {doc_id: set() for doc_id, _ in rows}
    for _w, places in occ.items():
        if len(places) > 1:
            keeper = min(places)
            for doc_id, i in places:
                if (doc_id, i) != keeper:
                    drops[doc_id].update(range(i, i + k))
    want = {}
    for doc_id, text in rows:
        u = units(text)
        kept = "".join(s for i, s in enumerate(u) if i not in drops[doc_id])
        want[doc_id] = (kept, len(u), len(drops[doc_id]))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens"], r["n_dropped"])
        for r in dedup.duplicate_window_removal(df, window=k).collect()
    }
    assert got == want
    assert got[1][2] == 0 and got[2][2] > 0  # first occurrence kept
    assert got[4][0] == rows[3][1]           # byte-exact rebuild


def _persistent_levels(spark):
    """(useDisk, useMemory) of every persistent RDD the session holds."""
    from collections import Counter

    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return Counter(
        (r.getStorageLevel().useDisk(), r.getStorageLevel().useMemory())
        for r in rdds.values()
    )


def _cached_frames(spark):
    return spark._jsparkSession.sharedState().cacheManager().cachedData().length()


def test_span_dedup_storage_control(spark):
    """VERDICT r4 #7 / ADVICE r4: the operator-internal persists accept a
    StorageLevel (DISK_ONLY keeps the exploded sentence table off the heap
    at corpus scale) and releasing the result frees them; the session's
    persistent RDDs and cache manager show both."""
    from pyspark import StorageLevel

    from hyperdx_spark.pipeline import dedup
    from hyperdx_spark.session import release

    rows = [
        (1, "Alpha one. Beta two! Gamma three? Delta four. Epsilon five."),
        (2, "Start here. Beta two! Gamma three? Delta four. End here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    levels, frames = _persistent_levels(spark), _cached_frames(spark)
    out = dedup.duplicate_span_removal(df, storage_level=StorageLevel.DISK_ONLY)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[2]["n_dropped"] == 3
    # the sentence and span tables, on disk only
    assert _persistent_levels(spark) - levels == {(True, False): 2}
    assert _cached_frames(spark) == frames + 2
    release(out)
    assert _persistent_levels(spark) == levels
    assert _cached_frames(spark) == frames
    # further actions recompute from lineage, result unchanged
    assert out.count() == 2
    # release is a no-op on a frame that holds nothing
    release(df)
    assert _persistent_levels(spark) == levels
    # the other persisting operators accept the parameter too
    pairs = dedup.minhash_lsh_pairs(
        df, storage_level=StorageLevel.DISK_ONLY
    )
    pairs.collect()
    assert _persistent_levels(spark) - levels == {(True, False): 1}
    del pairs
    assert _persistent_levels(spark) == levels


def test_composed_release_frees_inner_blocks(spark, monkeypatch):
    """ADVICE r5 (medium): the composed public APIs — drop_near_duplicates /
    semantic_dedup — own the blocks their inner operators persisted (LSH
    signature frame, CC edge list / labels), so ONE release of the composed
    result frees everything, including the label-propagation local
    checkpoints that DataFrame.unpersist() cannot reach."""
    from hyperdx_spark.pipeline import dedup
    from hyperdx_spark.session import release

    # the contract under test is the DISTRIBUTED loop's persisted blocks;
    # force past the r17 driver-local CC path (which persists nothing)
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", -1)

    sc = spark.sparkContext

    def held():
        return sc._jsc.getPersistentRDDs().size(), _cached_frames(spark)

    # ---- chain graph: diameter 15 forces >5 propagation rounds, so the
    # loop takes its it%5 localCheckpoint branch at least twice
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    rdds, frames = held()
    out = dedup.drop_near_duplicates(corpus, pairs)
    kept = out.count()
    assert kept == 20 - 16  # one keeper (id 0) of the 17-node chain
    n_rdds, n_frames = held()
    assert n_rdds - rdds >= 3  # edges, labels, >=1 checkpoint
    # persistent RDDs outside the cache manager are the checkpoints
    assert (n_rdds - rdds) - (n_frames - frames) >= 1
    release(out)
    assert held() == (rdds, frames)

    # ---- semantic_dedup end to end: the cosine_pairs signature persist
    # must ride through to the composed result too
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    sem = dedup.semantic_dedup(
        corpus.limit(6), emb, threshold=0.9, num_planes=8, bands=2, dim=4
    )
    assert sem.count() == 3  # ids 1-3 are exact duplicates of id 0
    assert held()[0] - rdds >= 3  # sig_rows + edges + labels
    release(sem)
    assert held() == (rdds, frames)


def test_dedup_groups_unpersists_on_midloop_failure(spark, monkeypatch):
    """The CC loop runs convergence-count jobs while edges/labels are
    persisted; a mid-loop failure must release every block it materialized
    (the scope frees them on the raise), not strand them in a long-lived
    session."""
    import pytest as _pytest

    from hyperdx_spark.pipeline import dedup

    sc = spark.sparkContext

    def held():
        return (
            len(sc._jsc.sc().getRDDStorageInfo()),
            sc._jsc.getPersistentRDDs().size(),
            _cached_frames(spark),
        )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    # r17: force the DISTRIBUTED loop — the release-on-raise under test
    # only matters there (the small-graph local path persists nothing).
    # Cap 0 makes _dedup_groups_local's bounded probe (collect call #1)
    # decline.
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # dispatch base in Spark 4 and the classic subclass overrides collect.
    # r16: numeric-id convergence probes are one agg + collect per round
    # (the label-sum check), so the injected failure rides collect now.
    df_cls = type(pairs)
    before = held()
    real_collect = df_cls.collect
    calls = {"n": 0}

    def flaky_collect(self):
        # call #1 is the local-path probe (declines via the cap); call #2
        # is the seed-sum probe (edges + seed labels materialize into the
        # cache); iteration 0's convergence probe (#3) fails
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected mid-loop failure")
        return real_collect(self)

    monkeypatch.setattr(df_cls, "collect", flaky_collect)
    with _pytest.raises(RuntimeError, match="injected mid-loop"):
        dedup.dedup_groups(pairs)
    monkeypatch.undo()
    assert calls["n"] == 3  # the failure really came from inside the loop
    assert held() == before


def test_scale_safety_caps_default_on():
    """VERDICT r5 #1: the sf10-proven-mandatory caps are the DEFAULT, with
    None as the explicit opt-out — a 100 TB user who takes defaults must
    not hit the configuration that OOM'd the uncapped path."""
    import inspect

    from hyperdx_spark.pipeline import dedup, similarity

    assert inspect.signature(dedup.winnow_pairs).parameters[
        "max_fp_df"
    ].default == 1000
    for fn in (dedup.minhash_lsh_pairs, dedup.semantic_dedup,
               similarity.cosine_pairs):
        assert inspect.signature(fn).parameters[
            "max_bucket_size"
        ].default == 10_000, fn


def test_vocabulary_and_tfidf_vs_duckdb(spark, sf_dir):
    """vocabulary (tf/df/idf with df band) and tfidf_top_terms replayed in
    DuckDB over the corpus sample."""
    import duckdb
    import math

    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    docs = load_table(spark, sf_dir, "documents").limit(80).cache()
    n = docs.count()
    vocab = {
        r["t"]: (r["tf"], r["df"], r["idf"])
        for r in T.vocabulary(docs, min_df=2, max_df_frac=0.9).collect()
    }
    con = duckdb.connect()
    con.register("docs", docs.select("doc_id", "text").toPandas())
    ref = con.sql(f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text),
                        '[^a-zA-Z0-9]+'), t -> t != '')) AS t
          FROM docs),
        pd AS (SELECT t, doc_id, count(*) AS c FROM tok GROUP BY 1, 2)
        SELECT t, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df
        FROM pd GROUP BY 1
        HAVING count(*) >= 2 AND count(*) <= {int(0.9 * n)}
    """).fetchall()
    assert vocab and len(ref) == len(vocab)
    for t, tf, df in ref:
        vtf, vdf, vidf = vocab[t]
        assert (vtf, vdf) == (tf, df)
        assert abs(vidf - (math.log((n + 1) / (df + 1)) + 1.0)) < 1e-12
    # tf-idf top terms: rank-1 term per doc must maximize tf*idf
    top = T.tfidf_top_terms(docs, top=3, min_df=1).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["tfidf"]))
    assert by_doc
    for d, rows in by_doc.items():
        rows.sort()
        assert len(rows) <= 3
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_detect_language_ngram(spark):
    """Character-trigram language ID separates five languages on natural
    sentences; degenerate inputs -> unknown."""
    from hyperdx_spark.pipeline import text as T

    rows = [
        (1, "The quick brown fox jumps over the lazy dog and then goes "
            "to the market in the morning.", "en"),
        (2, "Der schnelle braune Fuchs springt über den faulen Hund und "
            "die anderen Tiere in dem Wald.", "de"),
        (3, "Le renard brun rapide saute par dessus le chien paresseux "
            "et les autres animaux de la forêt.", "fr"),
        (4, "El rápido zorro marrón salta sobre el perro perezoso y los "
            "otros animales de la ciudad que están en el parque.", "es"),
        (5, "La volpe marrone salta sopra il cane pigro e tutti gli "
            "altri animali della città che sono nel parco.", "it"),
        (6, "xqz", "unknown"),
        (7, "", "unknown"),
        (8, None, "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select(
            "doc_id", T.detect_language_ngram("text").alias("lang")
        ).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_resize_bilinear_and_spectral_and_scenes(spark):
    """Round out the multimodal tier: bilinear resampling preserves a
    linear ramp exactly, FFT spectral features recover a pure tone's
    frequency, and scene-cut detection finds an abrupt luma change."""
    import numpy as np

    from hyperdx_spark.pipeline import codecs, multimodal

    # bilinear: upscaling a linear ramp stays linear (interior pixels
    # interpolate exactly); nearest would produce staircase duplicates
    ramp = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (4, 1))  # 4x16
    up = codecs.resize_bilinear(ramp, 31, 4)
    diffs = np.diff(up[0, 1:-1].astype(int))
    assert max(diffs) - min(diffs) <= 1  # even steps, no staircase
    near = codecs.resize_nearest(ramp, 31, 4)
    assert (np.diff(near[0].astype(int)) == 0).any()  # staircase present
    # spark path
    png = codecs.encode_png(ramp)
    media = spark.createDataFrame(
        [(1, bytearray(png))], "media_id long, payload binary"
    )
    out = multimodal.resize_images(
        media, width=8, height=2, method="bilinear"
    ).collect()
    assert codecs.decode_png(bytes(out[0]["payload"])).shape[:2] == (2, 8)
    import pytest as _pt
    with _pt.raises(ValueError, match="resize method"):
        multimodal.resize_images(media, width=2, height=2, method="cubic")

    # spectral: 440 Hz sine at 8 kHz -> dominant within one FFT bin
    rate, freq = 8000, 440.0
    t = np.arange(rate) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 20000).astype(np.int16)
    wav = codecs.encode_wav(samples, rate=rate)
    feats = codecs.spectral_features(samples, rate)
    assert abs(feats["dominant_hz"] - freq) <= rate / 512
    assert feats["rms"] > 10000
    adf = spark.createDataFrame(
        [(7, bytearray(wav))], "media_id long, payload binary"
    )
    row = multimodal.audio_spectral(adf).collect()[0]
    assert row["rate_hz"] == rate
    assert abs(row["dominant_hz"] - freq) <= rate / 512
    assert row["centroid_hz"] > 0 and row["rolloff_hz"] >= row["dominant_hz"] / 2

    # scene cuts: 3 dark frames then 3 bright frames -> one cut at index 3
    frames = np.concatenate([
        np.full((3, 16, 16), 20, np.uint8), np.full((3, 16, 16), 200, np.uint8)
    ])
    assert codecs.scene_changes(frames) == [3]
    vdf = spark.createDataFrame(
        [(9, bytearray(codecs.encode_y4m(frames, fps=5)))],
        "media_id long, payload binary",
    )
    vrow = multimodal.video_scene_cuts(vdf).collect()[0]
    assert vrow["n_frames"] == 6 and list(vrow["cuts"]) == [3]


def test_sample_frames_per_shot(spark):
    """Shot-aware sampling emits the middle frame of each detected shot."""
    import numpy as np

    from hyperdx_spark.pipeline import codecs, multimodal

    frames = np.concatenate([
        np.full((4, 16, 16), 20, np.uint8),   # shot 1: frames 0-3
        np.full((6, 16, 16), 200, np.uint8),  # shot 2: frames 4-9
    ])
    vdf = spark.createDataFrame(
        [(1, bytearray(codecs.encode_y4m(frames, fps=10)))],
        "media_id long, payload binary",
    )
    out = sorted(
        multimodal.sample_frames(vdf, per_shot=True).collect(),
        key=lambda r: r["frame_idx"],
    )
    # middles: shot 1 -> frame 1 (ts 100ms), shot 2 -> frame 6 (ts 600ms)
    assert [(r["frame_idx"], r["ts_ms"]) for r in out] == [(0, 100), (1, 600)]
    lumas = [codecs.decode_png(bytes(r["frame"]))[0, 0] for r in out]
    assert lumas == [20, 200]


def test_strip_html_and_link_density(spark):
    from hyperdx_spark.pipeline import text as T

    html = ('<html><head><style>body { color: red }</style>'
            '<script>var x = "<p>not text</p>";</script></head>'
            '<body><h1>Title here</h1><!-- comment -->'
            '<p>First paragraph with a <a href="/x">link</a> inside.</p>'
            '<ul><li>item one</li><li>item &amp; two</li></ul>'
            '<div>Last&nbsp;bit &lt;tag&gt; &quot;quoted&quot;</div>'
            '</body></html>')
    nav = ('<div><a href="/">Home</a> | <a href="/a">About</a> | '
           '<a href="/c">Contact</a></div>')
    df = spark.createDataFrame(
        [(1, html), (2, nav), (3, "no markup at all"), (4, ""), (5, None)],
        "id long, t string",
    )
    rows = {
        r["id"]: (r["s"], r["ld"])
        for r in df.select(
            "id", T.strip_html("t").alias("s"), T.link_density("t").alias("ld")
        ).collect()
    }
    s1 = rows[1][0]
    # script/style/comments gone, entities decoded, structure kept as lines
    assert "color: red" not in s1 and "not text" not in s1
    assert "item & two" in s1 and '<tag> "quoted"' in s1
    assert s1.startswith("Title here") and "\nitem one\nitem & two" in s1
    assert "<" not in s1.replace("<tag>", "")  # only the decoded literal
    # doubly-escaped markup decodes ONE level (no &amp;-first double decode)
    dd = spark.createDataFrame(
        [(9, "use &amp;lt;b&amp;gt; to bold")], "id long, t string"
    ).select(T.strip_html("t").alias("s")).collect()[0]["s"]
    assert dd == "use &lt;b&gt; to bold"
    # link density separates nav boilerplate from prose
    assert rows[1][1] < 0.1 and rows[2][1] > 0.6
    assert rows[3] == ("no markup at all", 0.0)
    assert rows[4] == ("", 0.0)
    assert rows[5][0] is None and rows[5][1] == 0.0


def test_token_budget_mix_epoch_repeats(spark, sf_dir):
    """allow_repeats=True epochs an undersized source: full copies tagged
    epoch 0..k-1 plus an independent fractional draw; default stays
    clamped to one copy."""
    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import sampling, text

    docs = load_table(spark, sf_dir, "documents").limit(40).select(
        "doc_id", "text", text.token_count("text").alias("nt")
    ).cache()
    total = docs.groupBy().sum("nt").collect()[0][0]
    n = docs.count()
    # budget ~2.5x the tiny source's tokens, all weight on it
    out = sampling.token_budget_mix(
        {"tiny": docs}, {"tiny": 1.0}, total_tokens=int(total * 2.5),
        id_col="doc_id", token_count_col="nt", seed=11,
        max_oversample=10.0, allow_repeats=True,
    )
    by_epoch = {r["epoch"]: r["c"] for r in
                out.groupBy("epoch").agg(F.count("*").alias("c")).collect()}
    assert by_epoch[0] == n and by_epoch[1] == n      # two full epochs
    assert 0 < by_epoch.get(2, 0) < n                 # fractional remainder
    # deterministic: same call gives the identical mix
    out2 = sampling.token_budget_mix(
        {"tiny": docs}, {"tiny": 1.0}, total_tokens=int(total * 2.5),
        id_col="doc_id", token_count_col="nt", seed=11,
        max_oversample=10.0, allow_repeats=True,
    )
    a = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    b = sorted((r["doc_id"], r["epoch"]) for r in out2.collect())
    assert a == b
    # default (no repeats): exactly one copy of everything
    clamped = sampling.token_budget_mix(
        {"tiny": docs}, {"tiny": 1.0}, total_tokens=int(total * 2.5),
        id_col="doc_id", token_count_col="nt", seed=11, max_oversample=10.0,
    )
    assert clamped.count() == n
    assert {r["epoch"] for r in clamped.select("epoch").distinct().collect()} == {0}


# ---------------------------------------------------------------- contamination

def _py_ngrams(s, n):
    import re

    toks = [t for t in re.split(r"[^a-zA-Z0-9]+", s.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_ngram_list(s, n):
    import re as _re

    toks = [t for t in _re.split(r"[^a-zA-Z0-9]+", s.lower()) if t]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_ngram_contamination_vs_python_reference(spark, documents, sf_dir):
    n = 8
    bench = documents.where(F.col("doc_id") % 29 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    got = {
        r["doc_id"]: (
            r["n_grams_hit"], r["n_bench_docs"], r["n_gram_occ_hit"],
            r["n_grams_total"], round(r["contaminated_frac"], 9),
        )
        for r in dedup.ngram_contamination(documents, bench, n).collect()
    }

    rows = documents.select("doc_id", "text").collect()
    bgrams = {}  # gram -> set of bench ids
    for r in rows:
        if r["doc_id"] % 29 == 0:
            for g in _py_ngrams(r["text"][:200], n):
                bgrams.setdefault(g, set()).add(r["doc_id"])
    want = {}
    for r in rows:
        glist = _py_ngram_list(r["text"], n)
        hit_g, hit_b = set(), set()
        occ = sum(1 for g in glist if g in bgrams)
        for g in glist:
            if g in bgrams:
                hit_g.add(g)
                hit_b |= bgrams[g]
        if hit_g:
            want[r["doc_id"]] = (
                len(hit_g), len(hit_b), occ, len(glist),
                round(occ / len(glist), 9),
            )
    assert got == want
    assert want, "fixture produced no contamination — test is inert"
    # every benchmark source doc must flag itself (its first 200 chars are
    # verbatim in the corpus)
    for r in rows:
        if r["doc_id"] % 29 == 0 and len(_py_ngrams(r["text"][:200], n)) > 0:
            assert r["doc_id"] in got


def test_decontaminate_drops_exactly_the_report(spark, documents):
    bench = documents.where(F.col("doc_id") % 29 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    bad = {
        r["doc_id"]
        for r in dedup.ngram_contamination(documents, bench, 8)
        .select("doc_id")
        .collect()
    }
    kept = {r["doc_id"] for r in dedup.decontaminate(documents, bench, 8).collect()}
    allids = {r["doc_id"] for r in documents.select("doc_id").collect()}
    assert kept == allids - bad


def test_ngram_contamination_short_docs_emit_nothing(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "one two three four five six")],
        "doc_id long, text string",
    )
    # n=4: doc 1 (3 tokens) can never fire; doc 2 shares 3 distinct 4-grams
    out = {
        r["doc_id"]: (
            r["n_grams_hit"], r["n_bench_docs"], r["n_gram_occ_hit"],
            r["n_grams_total"], r["contaminated_frac"],
        )
        for r in dedup.ngram_contamination(corpus, bench, 4).collect()
    }
    assert out == {2: (3, 1, 3, 3, 1.0)}


def test_decontaminate_threshold(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h extra words not in any benchmark " * 3),
            (2, "a b c d e f g h"),  # 100% of its single 8-gram is dirty
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "a b c d e f g h")], "doc_id long, text string"
    )
    # both share the 8-gram -> GPT-3 policy drops both
    assert dedup.decontaminate(corpus, bench, 8).count() == 0
    # PaLM 70% policy: doc 1 is mostly clean, doc 2 fully dirty
    kept = {
        r["doc_id"]
        for r in dedup.decontaminate(corpus, bench, 8, threshold=0.7).collect()
    }
    assert kept == {1}


# ---------------------------------------------------------------- keeper policy

def test_pick_keepers_by_score(spark):
    # clusters: {1,2,3} and {10,11}; 7 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    groups = dedup.dedup_groups(pairs)
    scored = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.9), (10, 0.5)],  # 11 unscored -> ranks last
        "doc_id long, score double",
    )
    out = {
        r["id"]: r["is_keeper"]
        for r in dedup.pick_keepers(groups, scored).collect()
    }
    # cluster 1: max score 0.9 tied between 2 and 3 -> min id 2 wins
    assert out == {1: False, 2: True, 3: False, 10: True, 11: False}


def test_drop_near_duplicates_end_to_end(spark):
    corpus = spark.createDataFrame(
        [(i, f"doc {i}", float(i % 4)) for i in range(12)],
        "doc_id long, text string, score double",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    # lowest-id policy: keep 0 and 5
    kept = {
        r["doc_id"]
        for r in dedup.drop_near_duplicates(corpus, pairs).collect()
    }
    assert kept == set(range(12)) - {1, 2, 6}
    # score policy: cluster {0,1,2} -> doc 2 (score 2.0), {5,6} -> 6 (2.0)
    kept_best = {
        r["doc_id"]
        for r in dedup.drop_near_duplicates(
            corpus, pairs, score_col="score"
        ).collect()
    }
    assert kept_best == set(range(12)) - {0, 1, 5}


# ---------------------------------------------------------------- per-source quality cut

def test_top_fraction_per_source_exact_vs_duckdb(spark, documents, sf_dir):
    from hyperdx_spark.pipeline import sampling

    scored = documents.select(
        "doc_id", "source", F.octet_length("text").cast("double").alias("score")
    )
    kept = sampling.top_fraction_per_source(
        scored, 0.25, exact=True
    )
    got = sorted(r["doc_id"] for r in kept.collect())
    want = sorted(
        r[0]
        for r in duck(
            sf_dir,
            """
            WITH s AS (SELECT doc_id, source,
                              strlen(text)::DOUBLE AS score
                       FROM documents),
            c AS (SELECT source, quantile_cont(score, 0.75) AS cut
                  FROM s GROUP BY 1)
            SELECT doc_id FROM s JOIN c USING (source) WHERE score >= cut
            """,
        )
    )
    assert got == want
    assert 0 < len(got) < scored.count()


def test_top_fraction_per_source_approx_close(spark, documents):
    from hyperdx_spark.pipeline import sampling

    scored = documents.select(
        "doc_id", "source", F.octet_length("text").cast("double").alias("score")
    )
    n_by_src = {
        r["source"]: r["n"]
        for r in scored.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    kept = sampling.top_fraction_per_source(scored, 0.5)
    kept_by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, n in n_by_src.items():
        k = kept_by_src.get(src, 0)
        # at default accuracy the approx cut lands within a few ranks
        assert abs(k - 0.5 * n) <= max(3, 0.05 * n), (src, k, n)


def test_top_fraction_per_source_frac_validation(spark, documents):
    from hyperdx_spark.pipeline import sampling

    with pytest.raises(ValueError):
        sampling.top_fraction_per_source(documents, 0.0, score_col="n_chars")
    with pytest.raises(ValueError):
        sampling.top_fraction_per_source(documents, 1.5, score_col="n_chars")


def test_semantic_dedup_identical_vectors(spark):
    import random

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(16)]
    b = [rng.uniform(-1, 1) for _ in range(16)]
    c = [rng.uniform(-1, 1) for _ in range(16)]
    # clusters by embedding identity: {0,1}, {2,3,4}; 5 unique
    emb = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, b), (4, b), (5, c)],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, f"doc {i}", float(i)) for i in range(6)],
        "doc_id long, text string, score double",
    )
    kept = {
        r["doc_id"]
        for r in dedup.semantic_dedup(corpus, emb, threshold=0.99, dim=16).collect()
    }
    assert kept == {0, 2, 5}
    # keep-best policy: highest doc_id has the highest score here
    kept_best = {
        r["doc_id"]
        for r in dedup.semantic_dedup(
            corpus, emb, threshold=0.99, dim=16, score_col="score"
        ).collect()
    }
    assert kept_best == {1, 4, 5}


def test_top_ngrams_vs_duckdb(spark, documents, sf_dir):
    got = [
        (r["g"], r["n_occurrences"], r["n_docs"])
        for r in text.top_ngrams(documents, n=3, k=25).collect()
    ]
    want = duck(
        sf_dir,
        """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'),
                             x -> x != '') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
          FROM t, unnest(range(1, greatest(len(tk) - 1, 1))) AS u(i))
        SELECT g, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        FROM g GROUP BY 1
        ORDER BY n_occurrences DESC, g ASC LIMIT 25
        """,
    )
    assert got == [tuple(w) for w in want]


def test_top_ngrams_plan_is_take_ordered(spark, documents):
    df = text.top_ngrams(documents, n=4, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_corpus_signals_fused_matches_composed(spark, sf_dir):
    """The fused Arrow corpus-signal worker must reproduce each composed
    Column operator bit-for-bit (VERDICT r4 #1: fuse the q_text_stats pass
    without moving the hash): analyze()'s token/quality/language stats,
    char_entropy, duplicate_line_fraction, gopher pass, c4 keep — over
    crafted edge docs AND the sf documents corpus."""
    from hyperdx_spark.io import load_table
    from hyperdx_spark.pipeline import text as T

    edge = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog. " * 20),
            (2, ""),
            (3, "   "),
            (4, "- bullet one\n- bullet two\n* bullet three"),
            (5, "trailing dots...\nmore dots...\nplain line here."),
            (6, "## symbols ### everywhere ...... and more ### " * 5),
            (7, "dup line\ndup line\ndup line\nother line"),
            (8, "{ code block } lorem ipsum filler text."),
            (9, "Tabs\tand\nnewlines \n \n  mixed   spacing."),
            (10, "Short. Doc."),
            (11, "A sentence that ends well. " * 30 + "\nNo terminal line\n"),
            (12, "12345 67890 numeric 99 content 100 " * 10),
            (13, None),  # ADVICE r5: NULL text must match composed semantics
        ],
        "doc_id long, text string",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for df in (edge, docs):
        composed = (
            T.analyze(df)
            .withColumn("__ent", T.char_entropy("text", arrow=True))
            .transform(T.gopher_filter)
            .transform(T.c4_filter)
            .withColumn("__dlf", T.duplicate_line_fraction("text"))
            .select(
                "doc_id", "n_tokens", "stopword_ratio", "quality",
                "lang_pred", "__ent", "__dlf", "gopher_pass", "c4_keep",
            )
        )
        fused = T.corpus_signals(df).select("doc_id", "__sig.*")
        got = {r["doc_id"]: r for r in fused.collect()}
        for e in composed.collect():
            g = got[e["doc_id"]]
            assert g["n_tokens"] == e["n_tokens"], e
            assert g["stopword_ratio"] == e["stopword_ratio"], e
            assert g["quality"] == e["quality"], e
            assert g["lang_pred"] == e["lang_pred"], e
            assert g["char_entropy"] == e["__ent"], e
            assert g["dup_line_frac"] == e["__dlf"], e
            assert g["gopher_pass"] == e["gopher_pass"], e
            assert g["c4_keep"] == e["c4_keep"], e


def test_corpus_signals_chunk_bounds():
    """The byte-bound chunker (VERDICT r7 #1): contiguous spans whose
    summed char counts respect the budget; a single over-budget document
    gets its own span instead of being dropped or split."""
    from hyperdx_spark.pipeline.text import _chunk_bounds

    assert _chunk_bounds([], 1000) == []
    assert _chunk_bounds([0, 0, 0], 1000) == [(0, 3)]
    bounds = _chunk_bounds([100, 200, 700, 50, 5000, 10, 10], 1000)
    assert bounds == [(0, 3), (3, 4), (4, 5), (5, 7)]
    # spans are a partition of the input; each span except an over-budget
    # singleton sums <= budget
    lens = [100, 200, 700, 50, 5000, 10, 10]
    assert [i for s, e in bounds for i in range(s, e)] == list(range(len(lens)))
    for s, e in bounds:
        assert e - s == 1 or sum(lens[s:e]) <= 1000


def test_corpus_signals_chunking_invariant_and_bounded(spark):
    """Chunking must be invisible in the results (per-doc signals are
    chunk-invariant — bit-identical at any budget) and must bound the
    worker's peak transient allocation by the chunk size, not the batch
    size: a 5 M-char batch of 100 KB docs allocates ~240 MB unchunked but
    must stay under ~3x the fixed lookup-table overhead with a 100 K-char
    budget (VERDICT r7 #1: Arrow caps batches by record count only)."""
    import tracemalloc

    import pandas as pd

    from hyperdx_spark.pipeline import text as T

    # -- invariance: tiny forced budget vs default, adversarial docs
    docs = [
        (1, "The quick brown fox. " * 400),          # spans many chunks
        (2, None),
        (3, ""),
        (4, "café ß… 日本語 mixed\nlines... here."),
        (5, "dup\ndup\n- bullet\nend." * 50),
        (6, "x"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = {
        r["doc_id"]: tuple(r)[1:]
        for r in T.corpus_signals(df).select("doc_id", "__sig.*").collect()
    }
    tiny = {
        r["doc_id"]: tuple(r)[1:]
        for r in T.corpus_signals(df, chunk_chars=37)
        .select("doc_id", "__sig.*")
        .collect()
    }
    assert base == tiny  # exact (==) float equality: bit-identical

    # -- bounded peak: drive the worker function directly so tracemalloc
    # sees the allocations the Spark python worker would make
    big = pd.Series(["word common the of and text. " * 3400] * 50)  # ~5 M chars
    worker = T._corpus_signals_udf(0.08, 100_000).func
    tracemalloc.start()
    out = worker(big)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert len(out) == 50
    # measured ~21 MB (15 MB fixed 0x110000-length tables + ~45 B/char x
    # 100 K budget); unchunked the same batch peaks ~240 MB
    assert peak < 60_000_000, f"peak {peak} not bounded by chunk budget"


def test_gopher_repetition_signals_hand_computed(spark):
    """Full Gopher repetition family (Rae'21 A1.1): hand-derived values on
    a crafted doc — words: a b a b a b a b c d e f (12), 23 chars;
    'a b a b' line repeats (dup_line 1/3, dup chars 7/21); top 2-gram
    'a b' x4 covers 12/23 chars; the duplicated 5-grams cover words 0-7
    (8 chars) -> 8/23."""
    from hyperdx_spark.pipeline import text as T

    doc = "a b a b\na b a b\nc d e f"
    df = spark.createDataFrame([(1, doc), (2, None), (3, "")],
                               "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in T.gopher_repetition_signals(df).select("doc_id", "__rep.*").collect()
    }
    r = rows[1]
    assert abs(r["dup_line_frac"] - 1 / 3) < 1e-12
    assert abs(r["dup_line_char_frac"] - 7 / 21) < 1e-12
    assert r["dup_para_frac"] == 0.0 and r["dup_para_char_frac"] == 0.0
    assert abs(r["top_2gram_char_frac"] - 12 / 23) < 1e-12
    assert abs(r["dup_5gram_char_frac"] - 8 / 23) < 1e-12
    assert r["repetition_pass"] is False  # top-2gram 0.52 > 0.20 cap
    # NULL -> zeros + fail (conservative, corpus_signals convention)
    assert rows[2]["dup_line_frac"] == 0.0 and rows[2]["repetition_pass"] is False
    # empty doc -> zeros, passes every cap
    assert rows[3]["repetition_pass"] is True
    # a clean doc passes
    clean = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog near a river bank.")],
        "doc_id long, text string",
    )
    out = T.gopher_repetition_signals(clean).select("__rep.repetition_pass").collect()
    assert out[0][0] is True
    # filter applies the paper thresholds
    both = spark.createDataFrame([(1, doc), (2, "unique words only here")],
                                 "doc_id long, text string")
    kept = [r["doc_id"] for r in T.gopher_repetition_filter(both).collect()]
    assert kept == [2]


def test_gopher_repetition_chunking_invariant(spark):
    """Chunked (tiny char budget) and unchunked runs are bit-identical —
    the signals are per-doc, so the byte-bound split must be invisible."""
    from hyperdx_spark.pipeline import text as T

    docs = [
        (1, "spam spam spam spam spam ham " * 40),
        (2, None),
        (3, "para one\n\npara one\n\npara two"),
        (4, "a b c d e f g h i j k l m n o p " * 10),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {
        r["doc_id"]: tuple(r)[1:]
        for r in T.gopher_repetition_signals(df).select("doc_id", "__rep.*").collect()
    }
    b = {
        r["doc_id"]: tuple(r)[1:]
        for r in T.gopher_repetition_signals(df, chunk_chars=25)
        .select("doc_id", "__rep.*")
        .collect()
    }
    assert a == b


def test_deterministic_shuffle(spark, sf_dir):
    """Training-order shuffle: same seed -> identical order (DuckDB md5
    replay); different seed -> different order; membership unchanged."""
    import duckdb

    from hyperdx_spark.pipeline.sampling import deterministic_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    order1 = [r["doc_id"] for r in deterministic_shuffle(docs, seed=7).collect()]
    order1b = [r["doc_id"] for r in deterministic_shuffle(docs, seed=7).collect()]
    order2 = [r["doc_id"] for r in deterministic_shuffle(docs, seed=8).collect()]
    assert order1 == order1b          # reproducible
    assert order1 != order2           # seed reshuffles
    assert sorted(order1) == sorted(order2)  # membership preserved
    # independently verifiable: DuckDB replays the exact order
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW d AS SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [
        r[0] for r in con.execute(
            "SELECT doc_id FROM d ORDER BY md5(doc_id::VARCHAR || ':7')"
        ).fetchall()
    ]
    assert order1 == want
    # partition-pinned variant keeps the global order within range splits
    sharded = deterministic_shuffle(docs, seed=7, num_partitions=4)
    assert sorted(r["doc_id"] for r in sharded.collect()) == sorted(order1)

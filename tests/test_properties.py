"""Property tests (SURVEY §5.2 layer 3) over the pure-Python twins of
the engine kernels — hypothesis drives the pure functions (fast, no
Spark round-trip per example); Spark↔Python equivalence of the same
functions is pinned separately in test_chunk/test_pipeline/test_parity.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cli_rag_spark.operators.chunk import cut_clean, cut_reference
from cli_rag_spark.operators.embed import mock_embed_py
from cli_rag_spark.operators.knn import _topk_rows

texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=400
)
sizes = st.integers(min_value=2, max_value=64)


@given(texts, sizes)
@settings(max_examples=200, deadline=None)
def test_clean_chunks_preserve_content(text, size):
    """mode='clean' drops only boundary whitespace (chunks are
    stripped): the ordered sequence of non-whitespace characters is
    exactly preserved, and no chunk exceeds the window."""
    chunks = cut_clean(text, size)
    drop_ws = lambda s: "".join(ch for ch in s if not ch.isspace())  # noqa: E731
    assert drop_ws("".join(chunks)) == drop_ws(text)
    if len(text) <= size:
        assert chunks == ([text] if text else [])  # passthrough, unstripped
        return
    for c in chunks:
        assert len(c) <= size
        assert c == c.strip()


@given(texts, sizes)
@settings(max_examples=200, deadline=None)
def test_reference_chunks_cover_all_but_final_char(text, size):
    """mode='reference' reproduces load-texts.c:37-105: short texts
    pass through whole (load-texts.c:48-57); long texts reassemble to
    a prefix of the original, losing at most the final char
    (load-texts.c:89) — never content in the middle."""
    chunks = cut_reference(text, size)
    joined = "".join(chunks)
    if len(text) < size:  # strict: load-texts.c:48 (text_length < requested)
        assert chunks == [text]
    else:
        assert joined == text[: len(joined)]
        assert len(joined) >= len(text) - 1


@given(st.text(max_size=100), st.integers(min_value=1, max_value=128))
@settings(max_examples=200, deadline=None)
def test_mock_embedding_is_unit_norm_and_deterministic(text, dim):
    v1 = mock_embed_py(text, dim)
    v2 = mock_embed_py(text, dim)
    assert v1 == v2
    assert len(v1) == dim
    # components are rounded to 9 dp for SQL-expression parity, so the
    # norm is 1 only to ~dim·1e-9
    assert abs(math.fsum(x * x for x in v1) - 1.0) < 1e-6


vectors = st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64),
    min_size=2,
    max_size=64,
)


def _norm(a):
    return math.sqrt(sum(x * x for x in a))


def _cos_dist(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return 1.0 - dot / (_norm(a) * _norm(b))


@given(
    st.integers(min_value=2, max_value=64).flatmap(
        lambda n: st.tuples(
            st.lists(st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64),
                     min_size=n, max_size=n),
            st.lists(st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64),
                     min_size=n, max_size=n),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_cosine_distance_range_and_symmetry(ab):
    """cosine distance ∈ [0, 2] (fp slack), symmetric, self-distance 0
    — the invariants of the reference kernel (vector-db.c:181-269)."""
    a, b = ab
    if _norm(a) == 0 or _norm(b) == 0:  # squares can underflow to 0
        return
    d = _cos_dist(a, b)
    assert -1e-9 <= d <= 2 + 1e-9
    assert abs(d - _cos_dist(b, a)) < 1e-9
    assert abs(_cos_dist(a, a)) < 1e-9


@given(st.floats(min_value=1e-3, max_value=1e3, allow_nan=False), vectors)
@settings(max_examples=200, deadline=None)
def test_cosine_scale_invariance(c, a):
    """cos_dist(a, c·a) ≈ 0 for c > 0 — positive scaling never changes
    the metric (the property that makes unit-normalizing the mock
    embedder harmless)."""
    scaled = [c * x for x in a]
    if _norm(a) == 0 or _norm(scaled) == 0:
        return
    assert abs(_cos_dist(a, scaled)) < 1e-6


@st.composite
def _distance_blocks(draw):
    """A (rows × cols) distance block as the GEMM kernel sees it after
    rounding: heavy ties (1–2 digits), NaN cells and whole NaN rows
    (zero-norm vectors), +inf cells (exclude_self), rows with fewer
    than k finite values, unique but unsorted ids, and k up to past
    the column count."""
    n_rows = draw(st.integers(min_value=1, max_value=6))
    n_cols = draw(st.integers(min_value=1, max_value=30))
    digits = draw(st.integers(min_value=1, max_value=2))
    cell = st.one_of(
        st.floats(min_value=0.0, max_value=2.0).map(lambda x: round(x, digits)),
        st.just(math.nan),
        st.just(math.inf),
    )
    dist = np.array(
        draw(st.lists(cell, min_size=n_rows * n_cols, max_size=n_rows * n_cols)),
        dtype=np.float64,
    ).reshape(n_rows, n_cols)
    nan_rows = draw(st.lists(st.booleans(), min_size=n_rows, max_size=n_rows))
    dist[np.array(nan_rows)] = math.nan
    ids = np.array(
        draw(st.lists(st.integers(min_value=-10**6, max_value=10**6),
                      min_size=n_cols, max_size=n_cols, unique=True)),
        dtype=np.int64,
    )
    k = draw(st.integers(min_value=1, max_value=n_cols + 3))
    return dist, ids, k


@given(_distance_blocks())
@settings(max_examples=300, deadline=None)
def test_gemm_partial_topk_equals_stable_double_argsort(block):
    """knn_join's batch-local selection (partition → survivors →
    lexsort) keeps exactly the (row, col) pairs, in the same order, as
    a full stable double argsort: columns pre-ordered by id, a stable
    sort on dist, the first min(k, cols) per row, non-finite dropped."""
    dist, ids, k = block
    top = min(k, dist.shape[1])
    id_order = np.argsort(ids)
    sel = id_order[np.argsort(dist[:, id_order], axis=1, kind="stable")[:, :top]]
    ref_rows = np.repeat(np.arange(dist.shape[0]), top)
    ref_cols = sel.ravel()
    finite = np.isfinite(np.take_along_axis(dist, sel, axis=1).ravel())

    rows, cols = _topk_rows(dist.copy(), ids, k)
    assert rows.tolist() == ref_rows[finite].tolist()
    assert cols.tolist() == ref_cols[finite].tolist()


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=12), min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_minhash_signature_is_set_semantics(parts):
    """MinHash input is the shingle SET: duplicating or reordering
    shingles never changes min(md5(seed|s)) (dedup permutation
    invariance, SURVEY §5.2)."""
    import hashlib

    def sig(shingles):
        return [
            min(hashlib.md5(f"{seed}|{s}".encode()).hexdigest() for s in shingles)
            for seed in range(4)
        ]

    base = sig(parts)
    assert sig(list(reversed(parts))) == base
    assert sig(parts + parts) == base


def test_incremental_candidates_equal_full_filtered(spark, sf_dir):
    """The incremental contract, exactly: candidates(new ∪ old)
    restricted to pairs touching a new id == incremental(new_sigs,
    old_sigs). Signatures are per-doc, so the split cannot change
    them — any divergence is a join-shape bug."""
    from pyspark.sql import functions as F

    from cli_rag_spark.operators.dedup import (
        minhash_candidates,
        minhash_candidates_incremental,
        minhash_signatures,
    )
    from cli_rag_spark.sources.documents import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = 400
    full = minhash_candidates(docs)
    expected = sorted(
        map(tuple, full.where((F.col("id_a") >= split) | (F.col("id_b") >= split)).collect())
    )
    got = sorted(
        map(
            tuple,
            minhash_candidates_incremental(
                minhash_signatures(docs.where(F.col("doc_id") >= split)),
                minhash_signatures(docs.where(F.col("doc_id") < split)),
            ).collect(),
        )
    )
    assert got == expected and len(got) > 0


def test_minhash_universal_hash_family_bounds():
    """Coefficient family invariants that keep the arithmetic exact in
    signed 64-bit on BOTH engines: a odd, a and b < 2^30 (so
    a*h + b < 2^62 for the 32-bit base hash), pairwise distinct."""
    from cli_rag_spark.functions.hashing import MINHASH_PRIME, minhash_coeffs

    a, b = minhash_coeffs(64)
    assert all(x % 2 == 1 for x in a)
    assert all(0 < x < (1 << 30) for x in a)
    assert all(0 <= x < (1 << 30) for x in b)
    assert len(set(zip(a, b))) == 64
    h_max = (1 << 32) - 1
    assert max(a) * h_max + max(b) < (1 << 62)
    assert MINHASH_PRIME == (1 << 61) - 1


def test_minhash_signature_set_semantics(spark):
    """Signatures are a function of the SHINGLE SET: duplicating a
    shingle's source words or reordering docs never changes them."""
    from cli_rag_spark.operators.dedup import minhash_signatures

    base = "alpha beta gamma delta epsilon zeta"
    dup = base + " alpha beta gamma"  # re-adds existing shingles only
    df = spark.createDataFrame([(0, base), (1, dup)], ["doc_id", "text"])
    rows = {r["doc_id"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("_h"))
            for r in minhash_signatures(df).collect()}
    # doc 1's shingle set is a superset; its minima can only be <= —
    # and for the shared shingles the values must coincide exactly
    assert all(h1 <= h0 for h0, h1 in zip(rows[0], rows[1]))


def test_minhash_signatures_persist_round_trip(spark, sf_dir, tmp_path):
    """The incremental story's storage contract: signatures written to
    parquet and read back drive minhash_candidates_incremental to the
    identical result as live signatures."""
    import os

    from pyspark.sql import functions as F

    from cli_rag_spark.operators.dedup import (
        minhash_candidates_incremental,
        minhash_signatures,
    )
    from cli_rag_spark.sources.documents import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_sigs = minhash_signatures(docs.where(F.col("doc_id") < 400))
    path = os.path.join(str(tmp_path), "sigs.parquet")
    old_sigs.write.mode("overwrite").parquet(path)
    new_sigs = minhash_signatures(docs.where(F.col("doc_id") >= 400))
    live = sorted(map(tuple, minhash_candidates_incremental(new_sigs, old_sigs).collect()))
    stored = sorted(map(tuple, minhash_candidates_incremental(
        new_sigs, spark.read.parquet(path)).collect()))
    assert live == stored and len(stored) > 0


def test_exact_substring_window_stats_detects_verbatim_copies(spark):
    """A verbatim copy must show repeated_frac 1.0 on both copies; a
    unique long text 0.0; short texts get a 0-window row (not dropped)."""
    from cli_rag_spark.operators.dedup import exact_substring_window_stats

    import string
    unique_a = " ".join(f"{w}{i}" for i, w in enumerate(string.ascii_lowercase * 8))
    copied = "the same long paragraph that appears twice verbatim " * 4
    rows = [
        (0, copied),
        (1, copied),          # verbatim duplicate of 0
        (2, unique_a),        # long, unique
        (3, "tiny"),          # shorter than the window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in exact_substring_window_stats(df, window=50, stride=8).collect()
    }
    assert got[0].repeated_frac == 1.0 and got[1].repeated_frac == 1.0
    # the copied text also repeats internally ("... " * 4), so even one
    # copy alone would score > 0; the cross-doc case is covered by the
    # unique text scoring exactly 0
    assert got[2].n_windows > 0 and got[2].n_repeated == 0
    assert got[3].n_windows == 0 and got[3].repeated_frac == 0.0


def test_exact_substring_window_stats_quoted_column_names(spark):
    """Column names that need backtick quoting must not break (or
    mis-parse) the substring projection (ADVICE r4): results under a
    hyphenated column name equal results under a plain one."""
    from cli_rag_spark.operators.dedup import exact_substring_window_stats

    copied = "the same long paragraph that appears twice verbatim " * 4
    rows = [(0, copied), (1, copied), (2, "tiny")]
    plain = spark.createDataFrame(rows, "doc_id long, text string")
    funky = plain.withColumnRenamed("text", "text-col")
    want = sorted(map(tuple, exact_substring_window_stats(plain).collect()))
    got = sorted(
        map(tuple, exact_substring_window_stats(funky, text_col="text-col").collect())
    )
    assert got == want and want[0][1] > 0


# ---------------------------------------------------------- real codecs

@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    mode=st.sampled_from(["RGB", "RGBA", "L"]),
    fill=st.integers(min_value=0, max_value=255),
    topdown=st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_bmp_roundtrip_property(w, h, mode, fill, topdown):
    """Every (width, height, mode, fill, topdown) combination must
    round-trip exactly through the real codec — widths hitting every
    stride-padding residue, 1-pixel degenerate images included."""
    from cli_rag_spark.operators.multimodal import bmp_encode, real_decode_image

    d = real_decode_image(bmp_encode(w, h, mode, fill=fill, topdown=topdown))
    assert (d["width"], d["height"], d["mode"]) == (w, h, mode)
    assert d["px_mean"] == float(fill)


@given(
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    ch=st.integers(min_value=1, max_value=4),
    frames=st.integers(min_value=0, max_value=100_000),
    bits=st.sampled_from([8, 16, 24, 32]),
)
@settings(max_examples=80, deadline=None)
def test_wav_roundtrip_property(rate, ch, frames, bits):
    from cli_rag_spark.operators.multimodal import real_decode_audio, wav_encode

    d = real_decode_audio(wav_encode(rate, ch, frames, bits=bits))
    assert d["sample_rate"] == rate
    assert d["channels"] == ch
    assert d["duration_sec"] == round(frames / rate, 2)


# --- late-r6 scale-ops lemmas ----------------------------------------


@given(st.integers(min_value=0, max_value=(1 << 32) - 1))
@settings(max_examples=300, deadline=None)
def test_poisson_hex_compare_equals_integer_compare(u):
    """The bootstrap draw's fixed-width lowercase-hex STRING compare
    is the integer compare (operators/bootstrap.py POISSON1_HEX): for
    any 32-bit u, classifying by hex-slice < hex-threshold must equal
    classifying by u < int-threshold."""
    from cli_rag_spark.operators.bootstrap import (
        MAX_MULT,
        POISSON1_HEX,
        POISSON1_THRESHOLDS,
    )

    h = format(u, "08x")
    by_int = next(
        (k for k, t in enumerate(POISSON1_THRESHOLDS) if u < t), MAX_MULT
    )
    by_hex = next(
        (k for k, t in enumerate(POISSON1_HEX) if h < t), MAX_MULT
    )
    assert by_int == by_hex


@given(st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_histogram_rank_percentile_lemma(counts):
    """key_skew_profile's percentile-from-histogram rule ("smallest
    cnt whose cumulative key coverage satisfies the all-integer rank
    inequality") equals the direct sorted-rank definition — p50 at
    rank ceil(n/2), p99 at rank ceil(0.99 n)."""
    import collections
    import math

    n = len(counts)
    hist = sorted(collections.Counter(counts).items())
    cum = 0
    p50 = p99 = None
    for cnt, nk in hist:
        cum += nk
        if p50 is None and cum * 2 >= n:
            p50 = cnt
        if p99 is None and cum * 100 >= n * 99:
            p99 = cnt
    s = sorted(counts)
    assert p50 == s[math.ceil(n / 2) - 1]
    assert p99 == s[math.ceil(0.99 * n) - 1]


@given(st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_cusum_integer_scaling_lemma(xs):
    """cusum_changepoints' exact-integer statistic: the argmax of
    |n·S_k| over integer terms (n·x_i − T) equals the argmax of the
    textbook |S_k| with the exact rational mean — same change point
    (tie-to-earliest), and the integer peak is exactly n times the
    rational peak."""
    from fractions import Fraction

    n, T = len(xs), sum(xs)
    mean = Fraction(T, n)
    s_int, s_rat = 0, Fraction(0)
    best_int = best_rat = None
    arg_int = arg_rat = None
    for k, x in enumerate(xs):
        s_int += n * x - T
        s_rat += x - mean
        if best_int is None or abs(s_int) > best_int:
            best_int, arg_int = abs(s_int), k
        if best_rat is None or abs(s_rat) > best_rat:
            best_rat, arg_rat = abs(s_rat), k
    assert arg_int == arg_rat
    assert best_int == n * best_rat


@given(
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=80, deadline=None)
def test_avi_roundtrip_property(w, h, n_frames, every_k):
    """avi_encode → real_sample_frames is exact for any geometry:
    header fields round-trip, sampled indices are 0, k, 2k, …, and
    each sampled size matches the encoder's 64+8j law."""
    from cli_rag_spark.operators.multimodal import avi_encode, real_sample_frames

    d = real_sample_frames(avi_encode(w, h, n_frames), every_k=every_k)
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, n_frames)
    assert [i for i, _ in d["frames"]] == list(range(0, n_frames, every_k))
    assert all(s == 64 + 8 * i for i, s in d["frames"])


# --- r7 codec round-trips (gradient BMP / ramp WAV) -------------------


@given(
    st.integers(min_value=9, max_value=24),   # width >= dhash grid_w
    st.integers(min_value=8, max_value=16),   # height >= dhash grid_h
    st.integers(min_value=0, max_value=200),  # gradient parameter g
    st.booleans(),                            # top-down storage
)
@settings(max_examples=80, deadline=None)
def test_gradient_bmp_pixel_grid_roundtrip(w, h, g, topdown):
    """Encoder → pixel-grid decoder reproduces the closed form in
    VISUAL orientation regardless of storage direction, and the dHash
    is therefore storage-invariant."""
    from cli_rag_spark.operators.multimodal import (
        bmp_encode_gradient,
        dhash_bits,
        real_decode_pixel_grid,
    )

    d = real_decode_pixel_grid(bmp_encode_gradient(w, h, g, topdown=topdown))
    assert (d["width"], d["height"]) == (w, h)
    for y in range(h):
        for x in range(w):
            v = (7 * g + (g % 5 + 1) * x + (g % 3 + 1) * y + (g % 7) * x * y) % 256
            assert d["rows"][y][x] == 3 * v  # channel sum of the RGB triple
    up = real_decode_pixel_grid(bmp_encode_gradient(w, h, g, topdown=False))
    assert dhash_bits(d["rows"]) == dhash_bits(up["rows"])


@given(
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=16, max_value=600),
    st.sampled_from([8, 16]),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=255),
)
@settings(max_examples=80, deadline=None)
def test_ramp_wav_pcm_roundtrip(rate, channels, frames, bits, a, b):
    """wav_encode(pattern=) → chunk-walked PCM extraction returns
    exactly the closed-form ramp bytes, whatever the format params —
    including past the junk LIST chunk."""
    from cli_rag_spark.operators.multimodal import real_decode_pcm, wav_encode

    payload = wav_encode(rate, channels, frames, bits=bits, pattern=(a, b))
    pcm = real_decode_pcm(payload)
    n_bytes = frames * channels * bits // 8
    assert pcm == bytes((a * n + b) % 256 for n in range(n_bytes))


@given(st.lists(st.integers(min_value=0, max_value=255), min_size=16, max_size=300))
@settings(max_examples=100, deadline=None)
def test_audio_fingerprint_window_partition(data):
    """The contour windows partition the byte stream exactly: block
    sums recomputed independently agree with the fingerprint's
    comparisons (cross-multiply mean ordering vs exact fractions)."""
    from fractions import Fraction

    from cli_rag_spark.operators.multimodal import audio_energy_fingerprint

    W = 16
    raw = bytes(data)
    fp = audio_energy_fingerprint(raw, n_windows=W)
    L = len(raw)
    sums = [0] * W
    counts = [0] * W
    for n, v in enumerate(raw):
        sums[(n * W) // L] += v
        counts[(n * W) // L] += 1
    assert sum(counts) == L and all(c > 0 for c in counts)
    for w in range(W - 1):
        want = "1" if Fraction(sums[w + 1], counts[w + 1]) > Fraction(sums[w], counts[w]) else "0"
        assert fp[w] == want


# --- C4-style span dedup (r7) ----------------------------------------


def test_dedup_spans_first_occurrence_wins(spark):
    from cli_rag_spark.operators.dedup import dedup_spans

    docs = [
        (1, "a b c x y z"),          # segs: "a b c", "x y z"
        (2, "a b c q q q"),          # "a b c" dup of doc1 seg0
        (3, "x y z a b c"),          # both segs already seen
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r for r in dedup_spans(df, span_words=3).collect()}
    assert (got[1].n_segs, got[1].n_kept, got[1].text) == (2, 2, "a b c x y z")
    assert (got[2].n_segs, got[2].n_kept, got[2].text) == (2, 1, "q q q")
    assert (got[3].n_segs, got[3].n_kept, got[3].text) == (2, 0, "")


def test_dedup_spans_position_breaks_ties_within_doc(spark):
    from cli_rag_spark.operators.dedup import dedup_spans

    # the same segment twice inside ONE doc: keep the earlier one
    df = spark.createDataFrame([(7, "p q p q")], ["doc_id", "text"])
    row = dedup_spans(df, span_words=2).collect()[0]
    assert (row.n_segs, row.n_kept, row.text) == (2, 1, "p q")


def test_dedup_spans_tail_segment_and_carry(spark):
    from cli_rag_spark.operators.dedup import dedup_spans

    # 5 words at W=3: the 2-word tail is its own segment
    df = spark.createDataFrame(
        [(1, "web", "a b c d e")], ["doc_id", "source", "text"]
    )
    row = dedup_spans(df, span_words=3, carry=["source"]).collect()[0]
    assert (row.source, row.n_segs, row.n_kept, row.text) == (
        "web", 2, 2, "a b c d e"
    )


def test_span_oracle_segment_cap_clears_fixture(sf_dir):
    # ADVICE r7 low #3: the span_dedup_stats oracle enumerates at most
    # 64 segments/doc (generate_series(0, 63) = docs up to 64*SPAN_W
    # words). A regenerated fixture with longer docs would make the
    # oracle silently drop segments and read as an operator bug, so
    # pin the headroom here: fixture max doc length must stay under
    # the cap with margin.
    import duckdb

    from cli_rag_spark.plans.queries_dedup import SPAN_W

    (max_words,) = duckdb.sql(
        f"SELECT max(len(string_split(text, ' '))) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert max_words <= 64 * SPAN_W, (
        f"fixture docs reach {max_words} words — raise the oracle's "
        f"generate_series(0, 63) bound in queries_dedup.py first"
    )


def test_dedup_spans_idempotent_and_validation(spark):
    from cli_rag_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame(
        [(1, "a b c x y z"), (2, "a b c q q q")], ["doc_id", "text"]
    )
    once = dedup_spans(df, span_words=3).select("doc_id", "text")
    twice = dedup_spans(once, span_words=3).select("doc_id", "text")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    import pytest

    with pytest.raises(ValueError, match="span_words"):
        dedup_spans(df, span_words=0)


def test_dedup_spans_reserved_column_guard(spark):
    # ADVICE r8 low: carry/id/text names colliding with the operator's
    # internal columns must raise up front (the quantiles contract),
    # not fail downstream with an ambiguous-reference error
    import pytest

    from cli_rag_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame(
        [(1, "x", "a b c")], ["doc_id", "_fp", "text"]
    )
    with pytest.raises(ValueError, match="collide"):
        dedup_spans(df, carry=["_fp"])
    df2 = spark.createDataFrame([(1, "a b c")], ["seg_idx", "text"])
    with pytest.raises(ValueError, match="collide"):
        dedup_spans(df2, id_col="seg_idx")


def test_dedup_spans_output_names_reserved(spark):
    # r9 review: the OUTPUT names are as reserved as the intermediates
    import pytest

    from cli_rag_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame([(1, 7, "a b c")], ["doc_id", "n_segs", "text"])
    with pytest.raises(ValueError, match="collide"):
        dedup_spans(df, carry=["n_segs"])


@settings(max_examples=300, deadline=None)
@given(
    q=st.integers(min_value=0, max_value=10**12),
    n=st.integers(min_value=0, max_value=10**12),
    dim=st.integers(min_value=0, max_value=10**5),
    ivf=st.booleans(),
    ivfpq=st.booleans(),
)
def test_choose_knn_strategy_total_and_safe(q, n, dim, ivf, ivfpq):
    """The E7 dispatcher is TOTAL over non-negative shapes, never
    returns an unavailable index strategy, and never routes a shape
    past the driver-collect element budget to gemm (the ADVICE r9
    high-dim hazard, as a property rather than one pinned case)."""
    from cli_rag_spark.operators.knn import (
        GEMM_MAX_PAIR_OPS,
        GEMM_MAX_QUERIES,
        GEMM_MAX_QUERY_ELEMS,
        choose_knn_strategy,
    )

    s = choose_knn_strategy(
        q, n, dim, ivf_available=ivf, ivfpq_available=ivfpq
    )
    assert s in ("gemm", "ivf", "ivfpq", "lsh")
    if s == "ivf":
        assert ivf
    if s == "ivfpq":
        assert ivfpq
    if s == "gemm":
        assert q <= GEMM_MAX_QUERIES
        assert q * dim <= GEMM_MAX_QUERY_ELEMS
        assert q * n * dim <= GEMM_MAX_PAIR_OPS


@settings(max_examples=200, deadline=None)
@given(
    q=st.integers(min_value=1, max_value=10**9),
    n=st.integers(min_value=1, max_value=10**9),
    dim=st.integers(min_value=1, max_value=8192),
)
def test_choose_knn_strategy_growth_monotone(q, n, dim):
    """Growing any single dimension of the workload never moves the
    choice from an index/banding strategy BACK to a brute-force one —
    the dispatch frontier is monotone (a flip in the other direction
    at scale would mean a corpus growing past the envelope suddenly
    gets a full scan)."""
    from cli_rag_spark.operators.knn import choose_knn_strategy

    order = {"gemm": 0, "lsh": 1}
    base = choose_knn_strategy(q, n, dim)
    for q2, n2, d2 in ((q * 10, n, dim), (q, n * 10, dim), (q, n, dim * 4)):
        grown = choose_knn_strategy(q2, n2, d2)
        assert order[grown] >= order[base], (base, grown, (q, n, dim), (q2, n2, d2))


@settings(max_examples=200, deadline=None)
@given(n=st.integers(min_value=0, max_value=10**18))
def test_default_n_centroids_properties(n):
    """C is within [1, 65536], never exceeds max(1, N), and is
    monotone non-decreasing in N (spot-checked around the clamp)."""
    from cli_rag_spark.operators.ann import default_n_centroids

    c = default_n_centroids(n)
    assert 1 <= c <= 65536
    assert c <= max(1, n)
    assert default_n_centroids(n + 1) >= c

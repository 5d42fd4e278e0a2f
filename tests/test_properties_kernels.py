"""Property-based parity: the vectorized pandas_udf kernels vs the
dual-engine SQL templates (DuckDB side), over hypothesis-generated
corpora.

Alphabet notes: includes ASCII text/punct/digits, interior and edge
tabs/newlines (neither engine's trim() touches them; both regex \\s
classes split on them), runs of spaces, and lowercase/uppercase
Latin-1 accents + CJK (lower() agrees across Python/DuckDB/Java for
these).  EXCLUDED: non-ASCII space-category chars (U+00A0, U+3000...)
— DuckDB's trim() strips them while Spark's keeps them, a documented
template divergence (NOTES_DEV "cross-engine trim hazard") that is
orthogonal to the kernels.
"""

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from harbourbridge_spark.pipeline.dedup import (_hashed_gram_set,
                                                _minhash_signature,
                                                _simhash_int,
                                                minhash_signature_sql,
                                                simhash_sql)

ALPHABET = ("abcdefghijklmnopqrstuvwxyz"
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
            " \t\n.,;:!?-_'\"()[]/" "éüñÉÜÑß中文日本語")

texts_strategy = st.lists(
    st.text(alphabet=ALPHABET, min_size=0, max_size=60),
    min_size=1, max_size=6)


def _norm(s: str) -> str:
    # the JVM-side normalization the kernels' callers apply:
    # F.trim(F.lower(text)) — trim strips 0x20 only
    return s.lower().strip(" ")


def _con(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE raw(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO raw VALUES (?, ?)",
                    list(enumerate(texts)))
    con.execute("CREATE VIEW documents AS SELECT doc_id, text FROM raw")
    return con


@settings(max_examples=40, deadline=None)
@given(texts=texts_strategy)
def test_minhash_kernel_matches_template(texts):
    con = _con(texts)
    rows = {r[0]: list(r[1:]) for r in con.execute(
        minhash_signature_sql("duckdb")).fetchall()}
    for i, t in enumerate(texts):
        assert _minhash_signature(_norm(t)) == rows[i]


@settings(max_examples=40, deadline=None)
@given(texts=texts_strategy)
def test_simhash_kernel_matches_template(texts):
    con = _con(texts)
    rows = dict(con.execute(simhash_sql("duckdb")).fetchall())
    for i, t in enumerate(texts):
        assert format(_simhash_int(_norm(t)), "032b") == rows[i]


@settings(max_examples=40, deadline=None)
@given(texts=texts_strategy)
def test_gram_kernel_matches_template(texts):
    from harbourbridge_spark.pipeline.hashing import duck_hash48
    con = _con(texts)
    sql = """
    WITH g AS (
        SELECT doc_id, list_distinct(list_transform(
            list_distinct(list_transform(
                generate_series(1, greatest(len(tk) - 2, 1)),
                i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))),
            x -> {h})) AS grams
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
              FROM documents) _t
    ) SELECT doc_id, grams FROM g
    """.format(h=duck_hash48("x"))
    rows = dict(con.execute(sql).fetchall())
    for i, t in enumerate(texts):
        assert sorted(_hashed_gram_set(_norm(t))) == sorted(rows[i])


# ---------------------------------------------------------------------------
# codec properties (pipeline/jpeg.py, gif.py, mediameta.py)
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None)
@given(st.data())
def test_gif_lzw_roundtrip_property(data):
    """ANY index grid through ANY palette size round-trips exactly,
    under both width schedules and both row orders."""
    import numpy as np

    from harbourbridge_spark.pipeline import gif as G
    h = data.draw(st.integers(1, 24), label="h")
    w = data.draw(st.integers(1, 24), label="w")
    npal = data.draw(st.sampled_from([2, 3, 4, 7, 16, 200, 256]),
                     label="npal")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    rng = np.random.RandomState(seed)
    idx = rng.randint(0, npal, (h, w)).astype(np.uint8)
    pal = rng.randint(0, 256, (npal, 3)).astype(np.uint8)
    grow = data.draw(st.booleans(), label="grow")
    inter = data.draw(st.booleans(), label="interlace")
    buf = G.encode_gif(idx, pal, interlace=inter, grow=grow)
    assert (G.decode_gif_pixels(buf) == pal[idx]).all()


def test_jpeg_batched_matmul_exact():
    """The r16 batched DCT paths (_idct_plane / _fdct_quant_zz) rely
    on numpy's STACKED matmul being bit-identical to the 2-D
    per-block call on this build — per-slice dgemm either way.  If a
    numpy upgrade ever breaks this, the codec must go back to
    per-block matmuls, so pin it."""
    import numpy as np
    from harbourbridge_spark.pipeline import jpeg as J
    rng = np.random.default_rng(7)
    blks = rng.uniform(-1000.0, 1000.0, size=(5, 7, 8, 8))
    q = J.QT_LUMA.reshape(8, 8)
    batched_idct = J._M.T @ blks @ J._M + 128.0
    f = J._M @ (blks - 128.0) @ J._M.T
    batched_coef = np.round(f / q).astype(np.int64)
    for i in range(5):
        for j in range(7):
            b = blks[i, j]
            assert np.array_equal(batched_idct[i, j],
                                  J._M.T @ b @ J._M + 128.0)
            f1 = J._M @ (b - 128.0) @ J._M.T
            assert np.array_equal(batched_coef[i, j],
                                  np.round(f1 / q).astype(np.int64))


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_jpeg_roundtrip_bounded_error_property(data):
    """ANY uint8 image (any dims, including non-8-multiples) survives
    encode->decode with per-pixel error bounded by the worst-case
    quantization budget; dims always exact; no exception."""
    import numpy as np

    from harbourbridge_spark.pipeline import jpeg as J
    h = data.draw(st.integers(1, 40), label="h")
    w = data.draw(st.integers(1, 40), label="w")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    gray = data.draw(st.booleans(), label="gray")
    rng = np.random.RandomState(seed)
    if gray:
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
    else:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    dec = J.decode_jpeg_pixels(J.encode_jpeg(img))
    assert dec.shape == (h, w, 3)
    ref = img if not gray else np.stack([img] * 3, axis=-1)
    # random noise is JPEG's pathological worst case: bound the MEAN
    # error loosely (Annex-K high-freq steps reach ~120) — the tight
    # bounds live in the smooth-image unit test
    err = np.abs(dec.astype(float) - ref.astype(float)).mean()
    assert err < 80.0, err


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_mp3_frame_walk_property(data):
    """Any legal CBR/VBR frame sequence (random layer/version/bitrate
    per frame) decodes to the exact frame count and the exact summed
    duration."""
    import struct as _struct

    from harbourbridge_spark.pipeline import mediameta as M
    n = data.draw(st.integers(1, 12), label="n_frames")
    out = bytearray()
    want_samples = {}
    rate = None
    # one (version, rate-idx) per stream (mixed-rate streams are not
    # a thing); vary bitrate per frame (VBR)
    ver = data.draw(st.sampled_from([3, 2, 0]), label="ver")
    sr_idx = data.draw(st.integers(0, 2), label="sr_idx")
    rate = M._SAMPLE_RATES[ver][sr_idx]
    total_samples = 0
    for k in range(n):
        layer = data.draw(st.sampled_from([1, 2, 3]),
                          label=f"layer{k}")
        table = M._BITRATES_V1 if ver == 3 else M._BITRATES_V2
        br_idx = data.draw(st.integers(1, 14), label=f"br{k}")
        kbps = table[layer][br_idx]
        if layer == 1:
            samples = 384
            size = (12 * kbps * 1000 // rate) * 4
        else:
            samples = 1152 if (ver == 3 or layer == 2) else 576
            size = samples // 8 * kbps * 1000 // rate
        if size <= 4:
            continue
        h = ((0x7FF << 21) | (ver << 19) | ((4 - layer) << 17)
             | (1 << 16) | (br_idx << 12) | (sr_idx << 10) | (3 << 6))
        out += _struct.pack(">I", h) + bytes(size - 4)
        total_samples += samples
    if not total_samples:
        return
    dur, got_rate, ch, kbps_mean, nf, trunc = M.decode_mp3_meta(
        bytes(out))
    assert got_rate == rate and ch == 1 and trunc == 0.0
    assert dur == total_samples * 1000.0 / rate

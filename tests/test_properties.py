"""Property-based tests (hypothesis) for the engine's pure-Python
kernels — the parts whose correctness the DuckDB differential can't
probe beyond the fixture distribution."""

import re
from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mapreduce_go_spark import runner

texts = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
                           max_codepoint=0x7F),
    max_size=200,
)
corpora = st.lists(
    st.tuples(st.sampled_from(["f1", "f2", "f3"]), texts),
    min_size=0, max_size=8,
)


@given(corpora)
@settings(max_examples=200, deadline=None)
def test_sequential_wc_is_token_counter(corpus):
    got = dict(runner.run_sequential(corpus, runner.wc_map, runner.wc_reduce))
    want = Counter(
        w for _, text in corpus for w in re.split(r"[^a-zA-Z]+", text) if w
    )
    assert got == {k: str(v) for k, v in want.items()}


@given(corpora)
@settings(max_examples=200, deadline=None)
def test_sequential_indexer_counts_distinct_files(corpus):
    got = dict(runner.run_sequential(
        corpus, runner.indexer_map, runner.indexer_reduce))
    # df per word = number of corpus ROWS containing it (a filename
    # repeated across rows counts once per row — matches the map
    # contract: one emission per (row, distinct word))
    for word, out in got.items():
        n, files = out.split(" ", 1)
        rows_with = [fn for fn, text in corpus
                     if word in set(re.split(r"[^a-zA-Z]+", text))]
        assert int(n) == len(rows_with)
        assert files == ",".join(sorted(rows_with))


@given(corpora)
@settings(max_examples=100, deadline=None)
def test_sequential_output_is_sorted_and_unique_keys(corpus):
    out = runner.run_sequential(corpus, runner.wc_map, runner.wc_reduce)
    keys = [k for k, _ in out]
    assert keys == sorted(keys)
    assert len(keys) == len(set(keys))


def test_minhash_pipeline_partition_invariant(spark, sf_dir):
    """The minhash/LSH pipeline must produce identical signatures and
    identical (capped) dup verdicts under ANY input partitioning —
    the distributed-correctness property that makes tables.spread's
    repartitioning (and any cluster layout) a pure performance
    choice."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    base = sorted(map(tuple, dedup._minhash_sig_df(docs).collect()))
    for n in (1, 7):
        alt = sorted(map(tuple,
                         dedup._minhash_sig_df(docs.repartition(n)).collect()))
        assert alt == base, f"signatures changed under repartition({n})"
    f1 = sorted(map(tuple, dedup.neardup_flags_capped_df(docs, 2).collect()))
    f2 = sorted(map(tuple, dedup.neardup_flags_capped_df(
        docs.repartition(7), 2).collect()))
    assert f1 == f2


def test_verified_pairs_sets_based_sig_identical(spark, sf_dir):
    """dedup_verified_pairs (r16) derives its MinHash signature from
    the DISTINCT per-doc shingle array (_shingle_sets explode) instead
    of the multiplicity stream (_shingles_all). min over an affine
    permutation is multiplicity-invariant, so the signatures must be
    bit-identical — pinned here so a future tokenizer/hash change
    can't silently decouple the two derivations."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    base = sorted(map(tuple, dedup._minhash_sig_df(docs).collect()))
    sh = dedup._shingle_sets(docs).select(
        "doc_id", F.explode("ss").alias("shingle"))
    h = F.md5("shingle")
    a56 = F.conv(F.substring(h, 1, 14), 16, 10).cast("long")
    b56 = F.conv(F.substring(h, 15, 14), 16, 10).cast("long")
    aggs = [
        F.min((F.col("a") + F.lit(i) * F.col("b"))
              % F.lit(dedup.MINHASH_MOD)).alias(f"mh{i}")
        for i in range(dedup.N_MINHASH)
    ]
    from_sets = sorted(map(tuple, (
        sh.select("doc_id", a56.alias("a"), b56.alias("b"))
        .groupBy("doc_id").agg(*aggs).collect())))
    assert from_sets == base


@given(st.binary(min_size=0, max_size=2000),
       st.integers(min_value=1, max_value=80),
       st.integers(min_value=1, max_value=60))
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_property(body, w, h):
    """Any body cycled into any raster survives make_png ->
    decode_png_pixels exactly, and the container size matches the
    stored-deflate closed form."""
    from mapreduce_go_spark.operators import multimodal as mm

    png = mm.make_png(w, h, body)
    assert len(png) == 68 + h * (w + 1)
    dw, dh, ch, px = mm.decode_png_pixels(png)
    src = body if body else b"\x00"
    npix = w * h
    exp = (src * (npix // len(src) + 1))[:npix]
    assert (dw, dh, ch) == (w, h, 1)
    assert bytes(px) == exp


@given(st.binary(min_size=0, max_size=2000),
       st.integers(min_value=1, max_value=80),
       st.integers(min_value=1, max_value=60))
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip_property(body, w, h):
    """Any index raster survives the flat-LZW encode -> general decode
    (and the vectorized fast path, which both decoders agree on)."""
    from mapreduce_go_spark.operators import multimodal as mm

    gif = mm.make_gif(w, h, body)
    src = body if body else b"\x00"
    npix = w * h
    exp = (src * (npix // len(src) + 1))[:npix]
    _lw, _lh, iw, ih, idx, pal = mm.decode_gif_indices(gif)
    assert (iw, ih) == (w, h)
    assert bytes(idx) == exp
    # identity palette means samples == indices tripled
    lzw = (9 * (npix + -(-npix // 254) + 1) + 7) // 8
    assert len(gif) == 794 + lzw + -(-lzw // 255)


@given(st.binary(min_size=0, max_size=1500),
       st.integers(min_value=1, max_value=60),
       st.integers(min_value=1, max_value=40))
@settings(max_examples=40, deadline=None)
def test_bmp_codec_roundtrip_property(body, w, h):
    from mapreduce_go_spark.operators import multimodal as mm

    bmp = mm.make_bmp(w, h, body)
    stride = (3 * w + 3) & ~3
    assert len(bmp) == 54 + stride * h
    feat = mm.decode_image(bmp)
    src = body if body else b"\x00"
    n3 = 3 * w * h
    exp = (src * (n3 // len(src) + 1))[:n3]
    assert (feat["width"], feat["height"], feat["channels"]) == (w, h, 3)
    assert feat["mean_luma"] == sum(exp) / n3


def test_cdc_chunking_is_content_local(spark):
    """The defining CDC property (why it beats fixed-size chunking
    for dedup): editing a document's PREFIX must not move chunk
    boundaries in the distant suffix — after the edit point's
    neighborhood, both versions produce the same chunk hashes. We
    assert the two versions share a common chunk-hash suffix covering
    most of the shared tail, and that the chunks reassemble each
    document exactly (partition of the text)."""
    from mapreduce_go_spark.operators import dedup

    tail = ("the quick brown fox jumps over the lazy dog while "
            "seventeen engineers review a content defined chunking "
            "pipeline that must remain stable under prefix edits "
            "because boundaries depend only on local gram hashes "
            "and never on absolute offsets within the document") * 3
    a = "PREFIX ONE: " + tail
    b = "a completely different and much longer prefix text here: " + tail
    docs = spark.createDataFrame([(1, a), (2, b)],
                                 "doc_id long, text string")
    rows = dedup.cdc_chunks_df(docs).collect()
    lens = {1: 0, 2: 0}
    hashes = {1: [], 2: []}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_no)):
        lens[r.doc_id] += r.chunk_len
        hashes[r.doc_id].append(r.chunk_md5)
    assert lens == {1: len(a), 2: len(b)}  # chunks partition the text
    # common suffix of chunk hashes: all chunks after the edit
    # neighborhood must coincide
    common = 0
    for x, y in zip(reversed(hashes[1]), reversed(hashes[2])):
        if x != y:
            break
        common += 1
    # the divergent region is the prefix plus at most a few chunks
    # around the edit point (the longer prefix spans ~2 chunks itself)
    assert common >= max(len(hashes[1]), len(hashes[2])) - 5, (
        hashes[1], hashes[2])
    assert common >= 2


def test_cdc_boundaries_match_definition_on_short_texts(spark):
    """Ground-truth pin for the r16 in-row boundary rewrite: chunks
    must equal the definitional Python twin (boundary at position i,
    1-based, iff md5 of the K-gram starting there taken as a 32-bit
    hex prefix is 0 mod CDC_P) — especially for texts SHORTER than
    K+1, where a clamped sequence(2, hi) would be DESCENDING in
    Spark and a naive filter over it would fabricate a position-2
    boundary. Every short text must stay exactly one whole-text
    chunk."""
    import hashlib

    from mapreduce_go_spark.operators import dedup

    def twin(text):
        k, p = dedup.CDC_K, dedup.CDC_P
        bs = [i for i in range(2, len(text) - k + 2)
              if int(hashlib.md5(text[i - 1:i - 1 + k].encode())
                     .hexdigest()[:8], 16) % p == 0]
        starts = [1] + bs
        ends = [b - 1 for b in bs] + [len(text)]
        return [(no, e - s + 1,
                 hashlib.md5(text[s - 1:e].encode()).hexdigest())
                for no, (s, e) in enumerate(zip(starts, ends))]

    base = ("chunk boundary torture: the gram hashes here must land "
            "some boundaries for the long tails ") * 4
    texts = [base[:n] for n in range(0, 24)] + [base[:120], base]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {}
    for r in dedup.cdc_chunks_df(docs).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_no, r.chunk_len, r.chunk_md5))
    for d, text in enumerate(texts):
        want = twin(text)
        assert sorted(got.get(d, [])) == want, (d, text)
        if 0 < len(text) < dedup.CDC_K + 1:
            assert len(want) == 1  # short text: one whole-text chunk


def test_winnowing_coverage_guarantee(spark):
    """The winnowing guarantee (Schleimer et al.): two documents
    sharing a substring of length >= WINNOW_W + WINNOW_K - 1 must
    share at least one fingerprint VALUE — regardless of where the
    substring sits in each document (position-independent, unlike
    fixed-stride sampling)."""
    from mapreduce_go_spark.operators import dedup

    shared = ("zqxjkvbwpf unique shared span that is plenty longer "
              "than the winnowing guarantee threshold here")
    a = "left padding words before it " + shared + " and then a tail"
    b = ("a totally different and much much longer prefix sits here "
         "before the common region " + shared + " different tail too")
    docs = spark.createDataFrame([(1, a), (2, b)],
                                 "doc_id long, text string")
    fps = dedup.winnow_fingerprints_df(docs).collect()
    f1 = {r.fp for r in fps if r.doc_id == 1}
    f2 = {r.fp for r in fps if r.doc_id == 2}
    assert len(shared) >= dedup.WINNOW_W + dedup.WINNOW_K - 1
    assert f1 & f2, "no shared fingerprint despite a long shared span"


@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "ee", "f"]),
             min_size=0, max_size=40),
    min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_rep_counts_matches_counter_reference(batch):
    """simd.rep_counts' whole-batch factorization vs an obviously-
    correct per-row Counter reference, over random multi-row batches
    (the fixture differential can't vary batch shapes; this does —
    including empty rows, single-token rows, and rows whose n-grams
    would collide across row boundaries if the adjacency masks were
    wrong)."""
    from collections import Counter

    import pandas as pd

    from mapreduce_go_spark.functions import simd

    out = simd.rep_counts.func(pd.Series(batch))
    for i, toks in enumerate(batch):
        g2 = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
        g3 = [" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
        exp_top_tok = max(Counter(toks).values(), default=0)
        exp_top_g2 = max(Counter(g2).values(), default=0)
        row = out.iloc[i]
        assert row.top_tok == exp_top_tok, (i, toks)
        assert row.top_g2 == exp_top_g2, (i, toks)
        assert row.n3 == len(g3), (i, toks)
        assert row.d3 == len(set(g3)), (i, toks)


@given(st.text(alphabet=st.characters(codec="ascii",
                                      exclude_characters="\x00"),
               max_size=200),
       st.integers(min_value=0, max_value=4000))
@settings(max_examples=80, deadline=None)
def test_pii_redaction_is_idempotent_and_complete(body, doc_id):
    """Redaction reference property, driver-side (regex semantics are
    identical in Spark's Java engine for these ASCII-pinned patterns;
    the engine-level parity is pinned by the pii_redact oracle):
    applying the redaction pass twice equals once (the placeholders
    contain no redactable material), and no pattern survives a pass —
    even on adversarial random text AND text with grafted PII."""
    import re as _re

    from mapreduce_go_spark.operators import quality

    grafted = (f"{body} user{doc_id}@example.com 555-"
               f"{doc_id % 1000:03d}-{doc_id % 10000:04d} 10.1.2.3")
    for text in (body, grafted):
        once = text
        for pat, rep in ((quality.EMAIL_RE, "<EMAIL>"),
                         (quality.PHONE_RE, "<PHONE>"),
                         (quality.IPV4_RE, "<IP>")):
            once = _re.sub(pat, rep, once)
        twice = once
        for pat, rep in ((quality.EMAIL_RE, "<EMAIL>"),
                         (quality.PHONE_RE, "<PHONE>"),
                         (quality.IPV4_RE, "<IP>")):
            twice = _re.sub(pat, rep, twice)
        assert once == twice, (text, once, twice)
        for pat in (quality.EMAIL_RE, quality.PHONE_RE):
            assert not _re.search(pat, once), (text, once)


@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_jpeg_codec_roundtrip_property(h, w, seed):
    """For ANY image shape and content: the decoder reproduces the
    encoder-side reconstruction bit-exactly, output geometry matches,
    and the file is marker-well-formed (SOI..EOI)."""
    import numpy as np

    from mapreduce_go_spark.functions import jpeg

    px = np.random.default_rng(seed).integers(
        0, 256, (h, w), dtype=np.uint8)
    data, recon = jpeg.encode_gray(px, return_recon=True)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    dec = jpeg.decode_gray(data)
    assert dec.shape == (h, w)
    assert np.array_equal(dec, recon)


def test_strip_dup_spans_removes_planted_span(spark):
    """ExactSubstr semantics (Lee et al. 2021): a K-token span planted
    in two documents is removed from BOTH (span-level, not doc-level
    dedup), while tokens outside the span's cover — and every token
    of a document with no duplicated window — survive verbatim."""
    from mapreduce_go_spark.operators import dedup

    span_toks = ["zebra", "quartz", "fjord", "waltz", "nymph",
                 "vexing", "jackdaw", "sphinx"]
    assert len(span_toks) == dedup.DUP_SPAN_K
    span = " ".join(span_toks)
    a = "alpha beta gamma " + span + " delta epsilon"
    b = "omicron " + span + " sigma tau upsilon phi"
    c = "entirely unique words nothing here repeats anywhere at all"
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)],
                                 "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup.strip_dup_spans_df(docs).collect()}
    # the planted span is gone from both carriers
    for d in (1, 2):
        assert rows[d].n_removed == dedup.DUP_SPAN_K
        for t in span_toks:
            assert t not in rows[d].clean_text.split()
    # surrounding tokens survive in order
    assert rows[1].clean_text == "alpha beta gamma delta epsilon"
    assert rows[2].clean_text == "omicron sigma tau upsilon phi"
    # a doc with no duplicated window is untouched
    assert rows[3].n_removed == 0
    assert rows[3].clean_text == c


def test_zorder_key_decodes_back(spark, sf_dir):
    """The Morton key is a bijection on (custkey, day): de-interleaving
    the produced zkey must recover both inputs exactly for every
    order — any bit placed at the wrong position breaks some row."""
    from mapreduce_go_spark.operators import advanced

    rows = advanced.zorder_layout(spark, sf_dir).collect()
    assert rows
    nb = advanced.ZORDER_BITS
    for r in rows:
        x = sum(((r.zkey >> (2 * b)) & 1) << b for b in range(nb))
        y = sum(((r.zkey >> (2 * b + 1)) & 1) << b for b in range(nb))
        assert (x, y) == (r.o_custkey, r.day), r


def test_pagerank_fixed_invariants(spark, sf_dir):
    """Fixed-point PageRank sanity beyond the bit-exact oracle: total
    mass stays within floor-loss of PR_SCALE (each of N nodes loses
    < 1 unit per floor, PR_ITERS+2 floors deep), every rank is
    positive, and the 100 supplier hubs out-rank the 2000 parts on
    average (each supplier aggregates many parts' contributions)."""
    from mapreduce_go_spark.operators import advanced

    rows = advanced.pagerank_fixed(spark, sf_dir).collect()
    total = sum(r.rank_fp for r in rows)
    n = len(rows)
    n_edges = advanced._pagerank_edges(spark, sf_dir).count()
    assert all(r.rank_fp > 0 for r in rows)
    # each directed-edge contribution floors away < 1 unit and each
    # node's base term floors < 1, per iteration
    loss_bound = (advanced.PR_ITERS + 1) * (n_edges + n)
    assert advanced.PR_SCALE - loss_bound <= total <= advanced.PR_SCALE
    sup = [r.rank_fp for r in rows if r.node % 2 == 1]
    part = [r.rank_fp for r in rows if r.node % 2 == 0]
    assert sup and part
    assert sum(sup) / len(sup) > 5 * sum(part) / len(part)


def test_fingerprint_pairs_partition_invariant(spark, sf_dir):
    """The perceptual-fingerprint pipelines (pHash image, energy
    audio) must produce identical band rows and identical verified
    pairs under ANY input partitioning — the same distributed-
    correctness property test_minhash_pipeline_partition_invariant
    pins for text dedup (deterministic per-doc kernels + set
    semantics make layout a pure performance choice)."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import audio as au
    from mapreduce_go_spark.operators import multimodal as mm

    docs = tables.load(spark, sf_dir, "documents").select("doc_id")

    def pairs(df, kernel, cap, ham):
        bands = df.mapInPandas(kernel, mm.PHASH_BANDS_SCHEMA)
        return sorted(map(tuple, mm.banded_hamming_pairs(
            bands, cap, ham).collect()))

    for kernel, cap, ham in (
            (mm._phash_band_batches, mm.PHASH_BAND_CAP, mm.PHASH_HAM_MAX),
            (au._afp_band_batches, au.AFP_BAND_CAP, au.AFP_HAM_MAX)):
        base = pairs(docs, kernel, cap, ham)
        assert base  # non-vacuous
        for n in (1, 7):
            alt = pairs(docs.repartition(n), kernel, cap, ham)
            assert alt == base, f"pairs changed under repartition({n})"


def test_symspell_pairs_partition_invariant(spark, sf_dir):
    """Fuzzy-pair output must be independent of input layout — the
    deletion-key join, the window cap and the exact verify are all
    set-semantics, so repartitioning the documents scan cannot change
    the result (the fingerprint-family discipline applied to the r8
    SymSpell operator)."""
    from mapreduce_go_spark.operators import fuzzy

    base = sorted(map(tuple,
                      fuzzy.symspell_typo_pairs(spark, sf_dir).collect()))
    assert base  # non-vacuous
    # same pipeline over a repartitioned scan: rebuild with the
    # loader patched to a different layout
    from mapreduce_go_spark import tables

    orig = tables.load
    try:
        def shuffled(s, d, name):
            df = orig(s, d, name)
            return df.repartition(7) if name == "documents" else df
        tables.load = shuffled
        alt = sorted(map(tuple,
                         fuzzy.symspell_typo_pairs(spark, sf_dir).collect()))
    finally:
        tables.load = orig
    assert alt == base


@given(st.binary(min_size=0, max_size=400), st.integers(0, 2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_jpeg_decoder_total_on_garbage(junk, seed):
    """The windowed-lookup decoder (r9) is TOTAL on arbitrary bytes:
    any input either decodes to a raster or raises ValueError — never
    IndexError/KeyError from the window arrays or lookup tables. Two
    adversarial families: raw fuzz with a forced SOI prefix (plain
    fuzz almost never passes the magic check), and random truncations
    of a VALID jpeg re-terminated with EOI (exercises every
    truncation guard in the scan loop)."""
    import numpy as np

    from mapreduce_go_spark.functions import jpeg

    rng = np.random.default_rng(seed)
    candidates = [b"\xff\xd8" + junk]
    px = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    valid, _ = jpeg.encode_gray(px, return_recon=True)
    cut = int(rng.integers(2, len(valid)))
    candidates.append(valid[:cut] + b"\xff\xd9")
    for data in candidates:
        try:
            out = jpeg.decode_gray(data)
            assert out.dtype == np.uint8
        except ValueError:
            pass


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
@example(seed=20655)  # a corrupt GIF that decoded to 0 pixels
def test_all_codec_parsers_total(seed):
    """Every from-scratch parser is TOTAL: truncations, byte
    corruptions and pure garbage either parse or raise ValueError —
    never IndexError/KeyError/struct.error (the corrupt-payload
    postures in the operators rely on catching exactly ValueError).
    The JPEG holes this found in r9 are fixed in functions/jpeg.py;
    this pin covers the whole family."""
    import numpy as np

    from mapreduce_go_spark.operators import audio, multimodal as mm
    from mapreduce_go_spark.operators import video, warc

    rng = np.random.default_rng(seed)
    cases = [
        (mm.decode_image, mm.make_png(20, 14, bytes(range(100)))),
        (mm.decode_image, mm.make_gif(20, 14, bytes(range(100)))),
        (mm.decode_image, mm.make_bmp(20, 14, bytes(range(100)))),
        (audio.decode_wav, audio.make_wav(7, b"hello audio body")),
        (video.parse_avi, video._vphash_clip(1)),
        (warc.parse_warc, warc.make_warc(1, [(1, "hi"), (2, "yo")])),
    ]
    for dec, valid in cases:
        trunc = valid[:int(rng.integers(0, len(valid)))]
        corrupt = bytearray(valid)
        for _ in range(int(rng.integers(1, 5))):
            corrupt[int(rng.integers(0, len(corrupt)))] = \
                int(rng.integers(0, 256))
        garbage = rng.integers(
            0, 256, int(rng.integers(0, 200)), dtype=np.uint8).tobytes()
        for data in (trunc, bytes(corrupt), garbage):
            try:
                dec(data)
            except ValueError:
                pass


@given(st.lists(st.text(alphabet="abc xyz", min_size=0, max_size=30),
                min_size=1, max_size=8),
       st.integers(0, 2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_token_chunker_matches_python_reference(spark, texts, seed):
    """token_chunks_overlap vs a trivial pure-Python reference over
    hypothesis-generated texts: same chunk set, full token coverage,
    stable chunk ids. Edge cases exercised: empty/whitespace-only
    docs (no chunks), n < CHUNK_TOKENS (single short chunk), n at
    exact stride multiples (no empty tail chunk — sequence stops at
    n-1)."""
    from mapreduce_go_spark import tables
    from mapreduce_go_spark.operators import pipeline

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = []
    for i, t in rows:
        toks = [w for w in t.split() if w]
        for start in range(0, len(toks), pipeline.CHUNK_STRIDE):
            chunk = toks[start:start + pipeline.CHUNK_TOKENS]
            want.append((i, start // pipeline.CHUNK_STRIDE,
                         len(chunk), " ".join(chunk)))

    orig = tables.load
    try:
        tables.load = lambda s, d, name: df
        got = sorted(
            tuple(r) for r in
            pipeline.token_chunks_overlap(spark, "ignored").collect())
    finally:
        tables.load = orig
    assert got == sorted(want)
    # coverage: every token of every non-empty doc appears in >= 1
    # chunk (reconstruct from the stride prefixes + final chunk)
    for i, t in rows:
        toks = [w for w in t.split() if w]
        covered = []
        chunks = [g for g in got if g[0] == i]
        for _, no, n, text in sorted(chunks):
            ctoks = text.split() if text else []
            covered.extend(ctoks[:pipeline.CHUNK_STRIDE]
                           if no < len(chunks) - 1 else ctoks)
        assert covered == toks, (i, covered, toks)


def test_strip_dup_spans_keeps_letterless_docs(spark):
    """A doc with no letter tokens (digits/punct-only or empty) must
    still appear in strip_dup_spans output as (0, 0, '') — before the
    r10 fix it vanished from the result entirely, losing documents
    for any consumer that rebuilds the corpus from clean_text (the
    sibling dup_span_stats always had the left-join-back)."""
    from mapreduce_go_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 10),
         (2, "12345 *** 678"),
         (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in dedup.strip_dup_spans_df(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] == (0, 0, "")
    assert out[3] == (0, 0, "")


def test_fingerprint_vertical_tab_cross_engine(spark, duck):
    """Java regex \\s includes \\x0B, RE2's does not — the explicit
    FP_WS class pins both engines to the same normalization. A doc
    whose only difference is a vertical tab vs a space must
    fingerprint IDENTICALLY in Spark and DuckDB (and the two variants
    must collapse to one fingerprint)."""
    from pyspark.sql import functions as F

    from mapreduce_go_spark.functions.text import FP_WS_SQL, fingerprint

    texts = ["a\x0bb", "a b", "a\tb"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_fps = [r.fp for r in
                 df.select(fingerprint(F.col("text")).alias("fp"))
                 .collect()]
    duck_fps = [duck.execute(
        f"SELECT md5(lower(regexp_replace(trim(?), '{FP_WS_SQL}', ' ', 'g')))",
        [t]).fetchone()[0] for t in texts]
    assert spark_fps == duck_fps
    assert len(set(spark_fps)) == 1  # all normalize to 'a b'


def test_tokenizers_vertical_tab_cross_engine(spark, tmp_path):
    """token_chunks_overlap and bpe_token_stats must tokenize a doc
    containing \\x0B identically in Spark and DuckDB. Java \\s
    includes vertical tab; RE2's does not — under bare \\s+ the Spark
    side treats 0x0B as a token boundary while the DuckDB oracle
    keeps it inside a punctuation run (ADVICE r10, medium). The
    explicit FP_WS class pins both engines."""
    import duckdb

    from mapreduce_go_spark.operators import pipeline, textstats

    docs = [(1, "alpha\x0bbeta gamma", "en", "s1"),
            (2, "alpha beta gamma", "en", "s1"),
            (3, "num 12\x0b34 end!", "en", "s2")]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet/*.parquet'")
    for name, fn, oracles in (
            ("token_chunks_overlap", pipeline.token_chunks_overlap,
             pipeline.ORACLES),
            ("bpe_token_stats", textstats.bpe_token_stats,
             textstats.ORACLES)):
        s = sorted(map(tuple, fn(spark, sf).collect()))
        d = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert s == d, name
    # the vertical tab IS a boundary on both engines now: doc 1
    # chunks to the same 3 tokens as doc 2
    out = {r.doc_id: r.n_tokens
           for r in pipeline.token_chunks_overlap(spark, sf).collect()}
    assert out[1] == out[2] == 3
    con.close()


# ----- URL canonicalizer fuzz (VERDICT r10 item 5) ----------------- #

@st.composite
def _fuzz_urls(draw):
    """One messy-but-realistic URL: mixed-case scheme/www, multi-label
    host, default and non-default ports, %/~/. path segments with 0-2
    trailing slashes, boundary/mid-key/mid-value utm forms, dangling
    ?/&/&&, and fragments (incl. ?- and /-bearing ones)."""
    scheme = draw(st.sampled_from(
        ["http", "https", "HTTP", "HTTPS", "HtTpS", "ftp"]))
    # stacked prefixes + a 'w'-bearing label alphabet: the r14 review
    # found canon() non-idempotent on www.www.* hosts precisely
    # because this alphabet had no 'w' to ever form one
    www = draw(st.sampled_from(["", "www.", "WWW.", "WwW.",
                                "www.www.", "WWW.www."]))
    label = st.text(alphabet="abcwXZ019-", min_size=1, max_size=6)
    host = ".".join(draw(st.lists(label, min_size=1, max_size=3)))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080", ":8443"]))
    seg = st.text(alphabet="aBc019._~%-", min_size=0, max_size=6)
    path = "".join("/" + s for s in draw(st.lists(seg, max_size=3)))
    path += draw(st.sampled_from(["", "/", "//"]))
    key = st.sampled_from(
        ["id", "q", "Page", "xutm_a", "utm_", "next",
         "utm_source", "UTM_Source", "utm_campaign", "uTm_Medium"])
    val = st.text(alphabet="aB0/=_-%&x", min_size=0, max_size=6
                  ).map(lambda v: v.replace("&", "x"))
    params = draw(st.lists(st.tuples(key, val), max_size=4))
    query = "&".join(f"{k}={v}" for k, v in params)
    if query:
        query = "?" + query + draw(st.sampled_from(["", "&", "&&"]))
    elif draw(st.booleans()):
        query = "?"
    frag = draw(st.sampled_from(["", "#", "#sec", "#a/b?c", "#Frag1"]))
    return f"{scheme}://{www}{host}{port}{path}{query}{frag}"


@given(st.lists(_fuzz_urls(), min_size=1, max_size=16))
@settings(max_examples=15, deadline=None)
def test_url_canonicalizer_cross_engine_and_idempotent(spark, duck, urls):
    """The url_canonicalize/url_dedup kernel is a regex parser that
    predates the fuzz-on-arrival discipline (VERDICT r10 item 5; the
    r10 review already found one real bug in it). Two invariants over
    the fuzzed domain:

    1. Spark == DuckDB: _canonical_url and _canonical_url_sql produce
       the same canonical form (the driver differential only probes
       the grafted fixture distribution).
    2. Idempotence: canon(canon(u)) == canon(u) — found the //-path
       two-pass bug that motivated /+$ over /$ (corpus.py r11).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_go_spark.operators.corpus import (
        _canonical_url, _canonical_url_sql)

    df = spark.createDataFrame(
        list(enumerate(urls)), "id long, url string")
    rows = (df.select(
        "id",
        _canonical_url(F.col("url")).alias("c"),
        _canonical_url(_canonical_url(F.col("url"))).alias("c2"))
        .orderBy("id").collect())
    got = [r.c for r in rows]
    pdf = pd.DataFrame({"id": range(len(urls)), "url": urls})
    want = [r[0] for r in duck.execute(
        f"SELECT {_canonical_url_sql('url')} FROM pdf ORDER BY id"
    ).fetchall()]
    assert got == want, list(zip(urls, got, want))
    twice = [(u, r.c, r.c2) for u, r in zip(urls, rows) if r.c != r.c2]
    assert not twice, twice


def test_prefix_filter_candidates_superset_lemma():
    """The PPJoin candidate algebra, fuzzed Spark-free with the SAME
    integer arithmetic the Spark plan uses ((N*n + D-1) div D, not
    math.ceil over doubles — ADVICE r12): for random small set
    families, every pair with J(A,B) >= t (a) shares an element of
    both prefixes, (b) passes the length filter
    N*max(|x|,|y|) <= D*min(|x|,|y|), and (c) has a shared prefix
    occurrence whose positional bound 1 + min(|x|-p1, |y|-p2)
    reaches alpha = ceil(N*(|x|+|y|))/(D+N)) — the full Xiao et al.
    filter set is EXACT, never lossy. Fuzzed at t=0.5 (the shipped
    threshold) and t=0.55 (non-dyadic — the misrounding regime the
    integer form exists for)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.frozensets(st.integers(0, 30),
                                  min_size=1, max_size=12),
                    min_size=2, max_size=8))
    def check(sets):
        # global order: ascending document frequency, then value
        from collections import Counter
        df = Counter(x for s in sets for x in s)
        order = lambda x: (df[x], x)

        for N, D in ((1, 2), (11, 20)):
            t = N / D

            def prefix_pos(s):
                srt = sorted(s, key=order)
                cut = len(s) - (N * len(s) + D - 1) // D + 1
                return {x: p for p, x in enumerate(srt[:cut], 1)}

            for i in range(len(sets)):
                for j in range(i + 1, len(sets)):
                    a, b = sets[i], sets[j]
                    jac = len(a & b) / len(a | b)
                    if jac < t:
                        continue
                    pa, pb = prefix_pos(a), prefix_pos(b)
                    shared = set(pa) & set(pb)
                    assert shared, (a, b, t)
                    assert (N * max(len(a), len(b))
                            <= D * min(len(a), len(b))), (a, b, t)
                    alpha = (N * (len(a) + len(b)) + D + N - 1) \
                        // (D + N)
                    assert any(
                        1 + min(len(a) - pa[w], len(b) - pb[w])
                        >= alpha for w in shared), (a, b, t)

    check()


def test_prefix_join_equals_plain_jaccard_join(spark, sf_dir):
    """The prefix-filtered form must return EXACTLY the plain
    inverted-index form's pairs on the fixtures (same values too) —
    the whole point of an exact candidate algebra."""
    from mapreduce_go_spark.operators import dedup

    plain = sorted(map(tuple,
                       dedup.ngram_jaccard_pairs(spark, sf_dir).collect()))
    pref = sorted(map(tuple, dedup.ngram_jaccard_pairs_prefix(
        spark, sf_dir).collect()))
    assert plain == pref and plain


@given(st.binary(min_size=0, max_size=400), st.integers(0, 2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_color_jpeg_decoder_total_on_garbage(junk, seed):
    """decode_components (the r16 multi-component walker) holds the
    same totality contract as decode_gray: arbitrary bytes either
    decode or raise ValueError — never IndexError/KeyError/
    struct.error. Three adversarial families: forced-SOI fuzz,
    truncations of a valid BASELINE color file, and truncations of a
    valid PROGRESSIVE file (each re-terminated with EOI so the
    damage lands inside scans, exercising the per-scan truncation
    guards and the reconstruct-with-missing-scans path)."""
    import numpy as np

    from mapreduce_go_spark.functions import jpeg

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
    base = jpeg.encode_color(rgb)
    prog = jpeg.encode_progressive_color(rgb)
    candidates = [b"\xff\xd8" + junk]
    for valid in (base, prog):
        cut = int(rng.integers(2, len(valid)))
        candidates.append(valid[:cut] + b"\xff\xd9")
    for data in candidates:
        try:
            _h, _w, planes = jpeg.decode_components(data)
            assert planes.dtype == np.uint8
        except ValueError:
            pass

"""Round-8 fixes from VERDICT/ADVICE r7 (beyond the index-store fault
suite in test_index_faults.py and the dsir/classifier additions in
their own files): WARC framing recovery on a bad Content-Length, the
blake2b doc_id contract, and the bounded matrel txns map."""

import pytest
from pyspark.sql import functions as F

from pipelinedb_spark.manifestio import MAX_TXN_SOURCES
from pipelinedb_spark.matrel import MatrelStore
from pipelinedb_spark.operators.warc import parse_warc_records


def _rec(rtype, rid, payload, clen=None):
    body = payload
    hdr = (f"WARC/1.0\r\n"
           f"WARC-Type: {rtype}\r\n"
           f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
           f"WARC-Target-URI: http://e.com/{rid}\r\n")
    hdr += (f"Content-Length: {len(body) if clen is None else clen}\r\n"
            if clen != "omit" else "")
    return hdr.encode() + b"\r\n" + body + b"\r\n\r\n"


def test_warc_bad_content_length_no_phantom_records():
    """ADVICE r7: a missing/unparseable Content-Length used to resume
    the scan INSIDE the unterminated body, so literal 'WARC/' text in
    an HTML payload became a phantom record with misattributed bytes.
    Now the parser recovers at the next real record boundary."""
    # payload contains a bare 'WARC/' that a naive rescan would bite on
    evil = b"<html>see WARC/1.0 spec at iso.org</html>"
    data = (_rec("response", "r1", evil, clen="omit")
            + _rec("response", "r2", b"<html>second</html>"))
    got = list(parse_warc_records(data))
    assert len(got) == 2
    assert got[0][0]["warc-record-id"].endswith("r1>")
    assert got[0][1] == evil            # full body, boundary-framed
    assert got[1][0]["warc-record-id"].endswith("r2>")
    assert got[1][1] == b"<html>second</html>"

    # unparseable length, no later record: remainder becomes the body
    tail = _rec("response", "r3", evil, clen="xyz")
    got = list(parse_warc_records(tail))
    assert len(got) == 1
    assert got[0][1].startswith(evil)

    # well-formed records keep exact length framing (even when the
    # payload embeds a full record-boundary byte sequence)
    tricky = b"<html>\r\n\r\nWARC/1.0 inline</html>"
    data = (_rec("response", "r4", tricky)
            + _rec("response", "r5", b"ok"))
    got = list(parse_warc_records(data))
    assert [p for _, p in got] == [tricky, b"ok"]


def test_warc_doc_id_blake2b_not_crc(spark, tmp_path):
    """ADVICE r7: doc_id must come from a well-mixed hash (truncated
    blake2b), not packed CRC32s — correlated crawl URLs collide far
    above the birthday floor under a linear CRC."""
    import gzip

    from pipelinedb_spark.operators.warc import warc_text_documents

    html = b"<html><p>" + b"hello corpus text " * 30 + b"</p></html>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + html)
    recs = b"".join(_rec("response", f"r{i}", http) for i in range(40))
    p = tmp_path / "a.warc.gz"
    p.write_bytes(gzip.compress(recs))
    files = spark.read.format("binaryFile").load(str(p)) \
        .select("path", "content")
    from pipelinedb_spark.operators.warc import warc_records
    docs = warc_text_documents(warc_records(files), min_chars=10)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert len(ids) == 40
    assert len(set(ids)) == 40          # all distinct
    assert all(0 < i < 2 ** 63 for i in ids)
    # deterministic contract: blake2b("rid|uri") truncated to 63 bits
    import hashlib
    row = docs.select("doc_id", "url").first()
    rid = f"<urn:uuid:r0>"
    did = int.from_bytes(hashlib.blake2b(
        f"{rid}|http://e.com/r0".encode(), digest_size=8).digest(),
        "big") & 0x7FFF_FFFF_FFFF_FFFF
    assert did in ids


def test_matrel_txns_map_bounded(spark, tmp_path):
    """ADVICE r7: app_id embeds the checkpoint path, so every
    re-attachment minted a permanent manifest entry.  The map now
    keeps only the MAX_TXN_SOURCES most recently touched sources,
    and replay detection still works for live ones."""
    store = MatrelStore(spark, str(tmp_path), "m", num_buckets=2)
    store.gc_grace_seconds = 0.0

    def merge_fn(df):
        from pipelinedb_spark.matrel import BUCKET_COL
        return df.groupBy("k", BUCKET_COL).agg(F.sum("n").alias("n"))

    batch = spark.createDataFrame([("a", 1)], "k string, n long")
    for i in range(MAX_TXN_SOURCES + 10):
        store.merge(batch, ["k"], merge_fn, txn=(f"app{i}", 1))

    m = store._read_manifest()
    assert len(m["txns"]) == MAX_TXN_SOURCES
    # the oldest sources were evicted, the newest retained
    assert store.txn_version("app0") is None
    assert store.txn_version(f"app{MAX_TXN_SOURCES + 9}") == 1
    # a retained source keeps monotone replay detection
    store.merge(batch, ["k"], merge_fn,
                txn=(f"app{MAX_TXN_SOURCES + 9}", 5))
    assert store.txn_version(f"app{MAX_TXN_SOURCES + 9}") == 5


# --------------------------------------------- boilerplate extraction

_NAV = ("<nav>\n<ul>\n" + "\n".join(
    f'<li><a href="/{w}">{w.title()}</a></li>'
    for w in ["home", "about", "products", "pricing", "blog",
              "careers", "contact", "login"]) + "\n</ul>\n</nav>")
_FOOTER = ('<footer><p>© 2026 Example Corp. '
           '<a href="/tos">Terms of Service</a> | '
           '<a href="/privacy">Privacy Policy</a> | '
           '<a href="/cookies">Cookie Settings</a></p></footer>')
_PARAS = [
    "The committee reviewed the proposal in detail and found that "
    "most of the objections were already addressed in the second "
    "draft, which had been circulated to every member before the "
    "meeting was called to order.",
    "After a long discussion about the budget, the members agreed "
    "that the new funding should be spread over three years so that "
    "no single department would have to absorb the whole cost at "
    "once.",
    "A final vote was scheduled for the following week, and the "
    "chair asked that any remaining comments be submitted in "
    "writing before the end of the month so they could be included "
    "in the record.",
]
_ARTICLE_PAGE = ("<html><head><title>Minutes</title>"
                 "<script>analytics()</script></head>\n<body>\n"
                 + _NAV
                 + "\n<article>\n<h1>Committee minutes</h1>\n"
                 + "\n".join(f"<p>{p}</p>" for p in _PARAS)
                 + "\n</article>\n" + _NAV + "\n" + _FOOTER
                 + "\n</body></html>").encode()


def test_extract_main_text_drops_boilerplate_keeps_article():
    """Round-8 task 5: density extraction keeps the article prose
    (including its short heading, sandwiched between good blocks)
    and drops nav/footer link lists that tag-strip passes through."""
    from pipelinedb_spark.operators.warc import (extract_main_text,
                                                 html_to_text_py)

    strip = extract_main_text(_ARTICLE_PAGE, method="strip")
    assert strip == html_to_text_py(_ARTICLE_PAGE)
    assert "Pricing" in strip and "Privacy Policy" in strip  # baseline

    dense = extract_main_text(_ARTICLE_PAGE)  # default: density
    for p in _PARAS:
        assert p in dense
    assert "Committee minutes" in dense       # heading survives
    assert "Pricing" not in dense             # nav gone
    assert "Privacy Policy" not in dense      # footer gone
    assert "analytics()" not in dense

    # tiny/degenerate pages fall back to tag-strip, never empty
    tiny = b"<html><body><p>short note.</p></body></html>"
    assert extract_main_text(tiny) == html_to_text_py(tiny)
    # hostile markup never raises
    assert isinstance(extract_main_text(b"<a<<>>&#x; \xff<p"), str)
    with pytest.raises(ValueError):
        extract_main_text(tiny, method="nope")


def test_density_extraction_improves_gopher_pass_rate(spark, tmp_path):
    """The VERDICT 'done' bar: on boilerplate-heavy fixture pages the
    Gopher filter keeps density-extracted documents that tag-strip
    extraction fails (duplicated nav lines push the dup-line rules
    over threshold)."""
    import gzip

    from pipelinedb_spark.operators.quality import gopher_filter
    from pipelinedb_spark.operators.warc import (read_warc,
                                                 warc_text_documents)

    def rec(i):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + _ARTICLE_PAGE)
        return _rec("response", f"p{i}", http)

    p = tmp_path / "crawl.warc.gz"
    p.write_bytes(gzip.compress(b"".join(rec(i) for i in range(4))))
    records = read_warc(spark, str(tmp_path))

    kept_strip = gopher_filter(
        warc_text_documents(records, method="strip")).count()
    kept_dense = gopher_filter(
        warc_text_documents(records, method="density")).count()
    assert kept_dense == 4
    assert kept_strip < kept_dense


# ------------------------------------------------ fast-codec seam

def test_decode_backend_resolution_without_pillow():
    """Round-8 task 4 plumbing, PIL-free half: 'auto' falls back to
    the pure decoders, explicit 'pil' fails loudly, and decode_pixels
    under 'auto' equals 'pure' bit-for-bit."""
    from pipelinedb_spark.operators.multimodal import (
        pil_available, resolve_decode_backend)

    if pil_available():
        pytest.skip("Pillow installed: covered by the parity test")
    assert resolve_decode_backend("auto") == "pure"
    assert resolve_decode_backend("pure") == "pure"
    with pytest.raises(ImportError):
        resolve_decode_backend("pil")
    with pytest.raises(ValueError):
        resolve_decode_backend("libjpeg")


def test_pil_dispatch_plumbing_with_fake_backend(spark, monkeypatch):
    """The PIL code path itself (open → format map → mode → array),
    exercised through a minimal fake PIL so the dispatch is tested in
    THIS container too: stats under the fake-pil backend must equal
    the pure backend on a BMP fixture."""
    import io
    import sys
    import types

    import numpy as np
    from test_operators import _make_bmp

    from pipelinedb_spark.operators import multimodal as mm

    img = (np.arange(12 * 9 * 3).reshape(12, 9, 3) % 251).astype(
        np.uint8)
    payload = _make_bmp(img)

    class _FakeIm:
        format, mode, info = "BMP", "RGB", {}

        def __init__(self, arr):
            self._a = arr

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def __array__(self, dtype=None):
            return self._a

    opened = []

    def _open(fp):
        data = fp.read()
        arr = mm.decode_bmp_py(data)
        assert arr is not None
        opened.append(1)
        return _FakeIm(arr)

    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = _open
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    assert mm.pil_available()
    assert mm.resolve_decode_backend("auto") == "pil"
    fmt, arr = mm._decode_any(payload, "pil")
    assert fmt == "bmp"
    assert opened, "PIL path fell back silently — _decode_pil never ran"
    np.testing.assert_array_equal(arr, img)

    df = spark.createDataFrame([(1, bytearray(payload))],
                               "media_id long, payload binary")
    # executors don't see the monkeypatched module: compare the
    # kernel-level decode driver-side, and the Spark plumbing purely
    pure_rows = mm.decode_pixels(df, backend="pure").collect()
    assert pure_rows[0]["format"] == "bmp"
    assert pure_rows[0]["width"] == 9 and pure_rows[0]["height"] == 12


@pytest.mark.skipif(
    not __import__("importlib").util.find_spec("PIL"),
    reason="Pillow not installed — parity oracle self-skips")
def test_pil_backend_parity_with_pure_decoders(spark):
    """Round-8 task 4 parity oracle (runs only where Pillow exists):
    exact equality for BMP/PNG/GIF, bounded error for JPEG."""
    import numpy as np
    from test_operators import _make_bmp, _make_gif, _make_jpeg, _make_png

    from pipelinedb_spark.operators import multimodal as mm

    rng = np.random.RandomState(2)
    img = (rng.rand(16, 16, 3) * 255).astype(np.uint8)
    fixtures = {
        "bmp": bytes(_make_bmp(img)),
        "png": bytes(_make_png(img, ctype=2)),
        "gif": bytes(_make_gif((img[:, :, 0] % 4),
                               palette=[(i, i, i) for i in
                                        (0, 85, 170, 255)])),
        "jpg": bytes(_make_jpeg(img)),
    }
    for fmt, payload in fixtures.items():
        f_pure, a_pure = mm._decode_any(payload, "pure")
        f_pil, a_pil = mm._decode_any(payload, "pil")
        assert f_pure == f_pil == fmt
        if fmt == "jpg":
            assert a_pil.shape == a_pure.shape
            diff = np.abs(a_pil.astype(int) - a_pure.astype(int))
            assert diff.mean() <= 2.0 and diff.max() <= 32
        else:
            np.testing.assert_array_equal(
                a_pil[..., :3] if a_pil.shape[-1] > a_pure.shape[-1]
                else a_pil, a_pure if a_pil.shape == a_pure.shape
                else a_pure[..., :3])


# --------------------------------------------- lossless JPEG (SOF3)

def _make_lossless_jpeg(img, pred_sel=1, pt=0, precision=8, restart=0):
    """Minimal lossless-JPEG encoder (T.81 Annex H writer oracle):
    canonical fixed-length Huffman table over the used magnitude
    categories, modulo-2^16 differences in the point-transformed
    domain, optional restart intervals (prediction resets to the
    scan-start default for the next sample)."""
    import numpy as np

    arr = np.asarray(img, dtype=np.int64)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    sp = arr >> pt
    default = 1 << (precision - pt - 1)

    events, syms = [], set()
    reset, mcu = True, 0
    for y in range(h):
        for x in range(w):
            if restart and mcu and mcu % restart == 0:
                events.append(("rst", (mcu // restart - 1) % 8))
                reset = True
            for ci in range(nc):
                s = sp[:, :, ci]
                if reset:
                    px = default
                elif y == 0:
                    px = int(s[0, x - 1])
                elif x == 0:
                    px = int(s[y - 1, 0])
                else:
                    a, b, c = (int(s[y, x - 1]), int(s[y - 1, x]),
                               int(s[y - 1, x - 1]))
                    px = [None, a, b, c, a + b - c, a + ((b - c) >> 1),
                          b + ((a - c) >> 1), (a + b) >> 1][pred_sel]
                d = (int(s[y, x]) - px) & 0xFFFF
                if d == 32768:
                    events.append((ci, 16, 0, 0))
                    syms.add(16)
                    continue
                if d > 32768:
                    d -= 65536
                t = int(abs(d)).bit_length()
                extra = d if d >= 0 else d + (1 << t) - 1
                events.append((ci, t, extra, t))
                syms.add(t)
            reset = False
            mcu += 1

    ss = sorted(syms)
    L = max(2, (len(ss) + 1).bit_length())
    bits = [0] * 16
    bits[L - 1] = len(ss)
    codes = {s: (i, L) for i, s in enumerate(ss)}

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(marker + (len(body) + 2).to_bytes(2, "big") + body)

    sof = bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    seg(b"\xff\xc3", sof)
    seg(b"\xff\xc4", bytes([0]) + bytes(bits) + bytes(ss))
    if restart:
        seg(b"\xff\xdd", restart.to_bytes(2, "big"))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([pred_sel, 0, pt])
    seg(b"\xff\xda", sos)

    acc, nb = 0, 0

    def put(code, ln):
        nonlocal acc, nb
        acc = (acc << ln) | code
        nb += ln
        while nb >= 8:
            byte = (acc >> (nb - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            nb -= 8
        acc &= (1 << nb) - 1

    def flush():
        nonlocal acc, nb
        if nb:
            put((1 << (8 - nb)) - 1, 8 - nb)

    for ev in events:
        if ev[0] == "rst":
            flush()
            out.extend(bytes([0xFF, 0xD0 + ev[1]]))
            continue
        ci, t, extra, n_extra = ev
        code, ln = codes[t]
        put(code, ln)
        if n_extra:
            put(extra, n_extra)
    flush()
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_lossless_jpeg_exact_roundtrip_all_predictors():
    """SOF3 decode (T.81 Annex H): bit-exact reconstruction for every
    predictor, grayscale and 3-component, under a hostile-value
    image (extremes maximize |diff| categories)."""
    import numpy as np

    from pipelinedb_spark.operators.jpeg import decode_jpeg_py

    rng = np.random.RandomState(21)
    gray = rng.randint(0, 256, (13, 9)).astype(np.int64)
    gray[0, :] = 255
    gray[1, :] = 0                      # max-category diffs
    for pred in range(1, 8):
        got = decode_jpeg_py(_make_lossless_jpeg(gray, pred_sel=pred))
        np.testing.assert_array_equal(got[:, :, 0], gray)
        assert got.shape == (13, 9, 1)

    rgb = rng.randint(0, 256, (8, 11, 3)).astype(np.int64)
    got = decode_jpeg_py(_make_lossless_jpeg(rgb, pred_sel=4))
    np.testing.assert_array_equal(got, rgb)  # no color transform


def test_lossless_jpeg_point_transform_restart_and_16bit():
    import numpy as np

    from pipelinedb_spark.operators.jpeg import decode_jpeg_py

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (9, 9)).astype(np.int64)
    # point transform: decoder returns (x >> pt) << pt exactly
    got = decode_jpeg_py(_make_lossless_jpeg(img, pred_sel=7, pt=2))
    np.testing.assert_array_equal(got[:, :, 0], (img >> 2) << 2)

    # restart interval: prediction resets mid-row, still exact
    got = decode_jpeg_py(_make_lossless_jpeg(img, pred_sel=5,
                                             restart=7))
    np.testing.assert_array_equal(got[:, :, 0], img)

    # 16-bit precision scales to the uint8 pixel contract
    deep = rng.randint(0, 1 << 16, (6, 7)).astype(np.int64)
    got = decode_jpeg_py(_make_lossless_jpeg(deep, precision=16))
    np.testing.assert_array_equal(got[:, :, 0], deep >> 8)

    # hostile headers: bad predictor rejected before any decode
    bad = bytearray(_make_lossless_jpeg(img))
    i = bad.find(b"\xff\xda")
    bad[i + 2 + 2 + 1 + 2] = 0          # Ss(predictor) := 0
    with pytest.raises(ValueError):
        decode_jpeg_py(bytes(bad))


def test_12bit_jpeg_decodes_and_scales_to_uint8():
    """12-bit extended sequential JPEG (SOF1, 16-bit quant tables):
    with unit quant the decode reproduces the 12-bit samples within
    DCT roundtrip error, scaled to the uint8 contract."""
    import numpy as np

    from pipelinedb_spark.operators.jpeg import ZIGZAG, _DCT_A, \
        decode_jpeg_py

    rng = np.random.RandomState(11)
    h, w = 16, 16
    img12 = rng.randint(0, 4096, (h, w)).astype(np.float64)

    # --- minimal 12-bit grayscale encoder (writer oracle) ----------
    blocks = (img12 - 2048.0).reshape(h // 8, 8, w // 8, 8) \
        .transpose(0, 2, 1, 3)
    coef = np.round(np.einsum("ik,yxkl,jl->yxij", _DCT_A, blocks,
                              _DCT_A)).astype(np.int64)
    zz = ZIGZAG

    def cat(v):
        return int(abs(v)).bit_length()

    events, dc_syms, ac_syms = [], set(), set()
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            seq = coef[by, bx].reshape(64)[zz]
            diff = int(seq[0]) - pred
            pred = int(seq[0])
            t = cat(diff)
            dc_syms.add(t)
            events.append(("dc", t, diff if diff >= 0
                           else diff + (1 << t) - 1, t))
            run = 0
            for k in range(1, 64):
                v = int(seq[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.add(0xF0)
                    events.append(("ac", 0xF0, 0, 0))
                    run -= 16
                s = cat(v)
                ac_syms.add((run << 4) | s)
                events.append(("ac", (run << 4) | s,
                               v if v >= 0 else v + (1 << s) - 1, s))
                run = 0
            if run:
                ac_syms.add(0x00)
                events.append(("ac", 0x00, 0, 0))

    def table(syms):
        ss = sorted(syms)
        ln = max(2, (len(ss) + 1).bit_length())
        bits = [0] * 16
        bits[ln - 1] = len(ss)
        return bits, ss, {s: (i, ln) for i, s in enumerate(ss)}

    dct, act = table(dc_syms), table(ac_syms)
    out = bytearray(b"\xff\xd8")

    def seg(m, body):
        out.extend(m + (len(body) + 2).to_bytes(2, "big") + body)

    # 16-bit unit quant table (prec nibble = 1)
    seg(b"\xff\xdb", bytes([0x10]) + b"\x00\x01" * 64)
    seg(b"\xff\xc1", bytes([12]) + h.to_bytes(2, "big")
        + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    seg(b"\xff\xc4", bytes([0x00]) + bytes(dct[0]) + bytes(dct[1]))
    seg(b"\xff\xc4", bytes([0x10]) + bytes(act[0]) + bytes(act[1]))
    seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 63, 0]))

    acc, nb = 0, 0

    def put(code, ln):
        nonlocal acc, nb
        acc = (acc << ln) | code
        nb += ln
        while nb >= 8:
            b = (acc >> (nb - 8)) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0)
            nb -= 8
        acc &= (1 << nb) - 1

    for kind, sym, extra, n_extra in events:
        code, ln = (dct if kind == "dc" else act)[2][sym]
        put(code, ln)
        if n_extra:
            put(extra, n_extra)
    if nb:
        put((1 << (8 - nb)) - 1, 8 - nb)
    out.extend(b"\xff\xd9")

    got = decode_jpeg_py(bytes(out))
    assert got.shape == (h, w, 1) and got.dtype == np.uint8
    want = np.clip(img12, 0, 4095).astype(np.int64) >> 4
    diff = np.abs(got[:, :, 0].astype(np.int64) - want)
    # float-DCT roundtrip noise at 12 bits is ±2 LSB12 ≈ ≤1 after >>4
    assert diff.max() <= 1, diff.max()


# --------------------------------------------- IMA ADPCM WAV

def _ima_encode(samples, channels, block_align):
    """Reference IMA ADPCM encoder (writer oracle).  Returns (data
    bytes, reconstructed int16 samples) — ADPCM is lossy, so the
    decoder is checked bit-exactly against the ENCODER's own
    reconstruction, the algorithm's defining property."""
    import numpy as np

    from pipelinedb_spark.operators.multimodal import (_IMA_INDEX,
                                                       _IMA_STEP)

    spb = 1 + (block_align - 4 * channels) // (4 * channels) * 8
    n = len(samples)
    nblocks = -(-n // spb)
    pad = np.zeros((nblocks * spb, channels), dtype=np.int32)
    pad[:n] = samples
    out = bytearray()
    recon = np.empty_like(pad)
    for bi in range(nblocks):
        blk = pad[bi * spb:(bi + 1) * spb]
        preds, idxs, nibs = [], [], [[] for _ in range(channels)]
        for ch in range(channels):
            pred = int(blk[0, ch])
            idx = 0
            preds.append(pred)
            recon[bi * spb, ch] = pred
            for t in range(1, spb):
                step = int(_IMA_STEP[idx])
                d = int(blk[t, ch]) - pred
                nibble = 0
                if d < 0:
                    nibble = 8
                    d = -d
                if d >= step:
                    nibble |= 4
                    d -= step
                if d >= step >> 1:
                    nibble |= 2
                    d -= step >> 1
                if d >= step >> 2:
                    nibble |= 1
                diff = (step >> 3) + ((step >> 2) if nibble & 1 else 0) \
                    + ((step >> 1) if nibble & 2 else 0) \
                    + (step if nibble & 4 else 0)
                pred = pred - diff if nibble & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + int(_IMA_INDEX[nibble])))
                nibs[ch].append(nibble)
                recon[bi * spb + t, ch] = pred
            if ch == 0:
                idxs.append(0)
        for ch in range(channels):
            p0 = preds[ch] & 0xFFFF
            out.extend(bytes([p0 & 0xFF, p0 >> 8, 0, 0]))
        ngroups = (spb - 1) // 8
        for g in range(ngroups):
            for ch in range(channels):
                for b in range(4):
                    lo = nibs[ch][g * 8 + 2 * b]
                    hi = nibs[ch][g * 8 + 2 * b + 1]
                    out.append(lo | (hi << 4))
    return bytes(out), recon[:n]


def test_ima_adpcm_wav_decodes_exactly_as_encoder_reconstruction():
    import numpy as np

    from pipelinedb_spark.operators.multimodal import decode_wav_py

    rng = np.random.RandomState(8)
    rate = 8000
    t = np.arange(1000)
    mono = (np.sin(2 * np.pi * 440 * t / rate) * 12000
            + rng.randint(-500, 500, len(t))).astype(np.int32)[:, None]
    block_align = 256          # header 4 + 252 bytes = 505 samples/blk
    data, recon = _ima_encode(mono, 1, block_align)

    def wav(payload, channels, n_samples):
        fmt = (int(0x11).to_bytes(2, "little")
               + channels.to_bytes(2, "little")
               + rate.to_bytes(4, "little")
               + (rate * block_align // 505).to_bytes(4, "little")
               + block_align.to_bytes(2, "little")
               + (4).to_bytes(2, "little"))
        fact = n_samples.to_bytes(4, "little")
        body = (b"WAVE"
                + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
                + b"fact" + len(fact).to_bytes(4, "little") + fact
                + b"data" + len(payload).to_bytes(4, "little") + payload)
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    got, got_rate = decode_wav_py(wav(data, 1, len(mono)))
    assert got_rate == rate and got.shape == (len(mono), 1)
    np.testing.assert_array_equal(
        np.round(got * 32768.0).astype(np.int32), recon)
    # the lossy reconstruction still tracks the waveform
    err = np.abs(got[:, 0] * 32768.0 - mono[:, 0])
    assert np.median(err) < 600

    # stereo: interleaved 4-byte channel groups
    stereo = np.stack([mono[:, 0], -mono[:, 0]], axis=1)
    data2, recon2 = _ima_encode(stereo, 2, 512)

    def wav2(payload, n_samples):
        fmt = (int(0x11).to_bytes(2, "little")
               + (2).to_bytes(2, "little")
               + rate.to_bytes(4, "little")
               + (rate).to_bytes(4, "little")
               + (512).to_bytes(2, "little")
               + (4).to_bytes(2, "little"))
        fact = n_samples.to_bytes(4, "little")
        body = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
                + b"fact" + len(fact).to_bytes(4, "little") + fact
                + b"data" + len(payload).to_bytes(4, "little") + payload)
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    got2, _ = decode_wav_py(wav2(data2, len(stereo)))
    assert got2.shape == (len(stereo), 2)
    np.testing.assert_array_equal(
        np.round(got2 * 32768.0).astype(np.int32), recon2)

    # other compressed codecs stay honestly gated (GSM 6.10)
    bad = bytearray(wav(data, 1, len(mono)))
    bad[20:22] = (0x31).to_bytes(2, "little")
    with pytest.raises(NotImplementedError):
        decode_wav_py(bytes(bad))


def test_g711_ulaw_alaw_decode():
    """G.711 companded audio: decode tables verified against a
    reference encoder roundtrip (error bounded by the segment step)
    and the codecs' structural symmetries."""
    import numpy as np

    from pipelinedb_spark.operators.multimodal import (_ALAW_TABLE,
                                                       _ULAW_TABLE,
                                                       decode_wav_py)

    # sign symmetry + silence codes
    assert _ULAW_TABLE[0xFF] == 0
    np.testing.assert_array_equal(_ULAW_TABLE[:128], -_ULAW_TABLE[128:])
    assert _ALAW_TABLE[0x55] == -8     # no true zero; 0xD5 = +8
    assert _ALAW_TABLE[0xD5] == 8

    def ulaw_enc(x):
        BIAS = 0x84
        s = 0x80 if x < 0 else 0
        x = min(abs(x), 32635) + BIAS
        exp = x.bit_length() - 8
        mant = (x >> (exp + 3)) & 0x0F
        return ~(s | (exp << 4) | mant) & 0xFF

    def alaw_enc(x):
        s = 0x80 if x >= 0 else 0
        x = min(abs(x), 32767)
        if x < 256:
            v = x >> 4
        else:
            exp = x.bit_length() - 8
            v = (exp << 4) | ((x >> (exp + 3)) & 0x0F)
        return (s | v) ^ 0x55

    rng = np.random.RandomState(3)
    xs = np.concatenate([rng.randint(-32000, 32000, 500),
                         [0, 1, -1, 255, -255, 32000, -32000]])
    for x in xs:
        d = int(_ULAW_TABLE[ulaw_enc(int(x))])
        seg = max(8, 2 ** (max(0, (abs(int(x)) + 0x84).bit_length()
                               - 8) + 3))
        assert abs(d - int(x)) <= seg, (x, d)
        da = int(_ALAW_TABLE[alaw_enc(int(x))])
        assert abs(da - int(x)) <= max(16, 2 ** (max(8, abs(int(x))
                                                     .bit_length()) - 4))

    # end-to-end through the WAV container
    pcm = (np.sin(np.arange(400) * 0.05) * 20000).astype(np.int32)
    payload = bytes(ulaw_enc(int(v)) for v in pcm)
    fmt = (int(0x07).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (8).to_bytes(2, "little"))
    body = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(payload).to_bytes(4, "little") + payload)
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    got, rate = decode_wav_py(wav)
    assert rate == 8000 and got.shape == (400, 1)
    err = np.abs(got[:, 0] * 32768 - pcm)
    assert err.max() < 1024 and np.median(err) < 260


def test_ms_adpcm_wav_decodes_exactly_as_encoder_reconstruction():
    import numpy as np

    from pipelinedb_spark.operators.multimodal import (_MS_ADAPT,
                                                       _MS_COEFS,
                                                       decode_wav_py)

    rng = np.random.RandomState(4)
    rate, block_align, channels = 8000, 140, 1
    spb = 2 + (block_align - 7 * channels) * 2 // channels
    n = spb * 3 - 40                      # partial tail block
    mono = (np.sin(np.arange(n) * 0.03) * 9000
            + rng.randint(-800, 800, n)).astype(np.int64)

    def encode_block(blk, pred_idx=1):
        c1, c2 = (int(_MS_COEFS[pred_idx][0]),
                  int(_MS_COEFS[pred_idx][1]))
        s2, s1 = int(blk[0]), int(blk[1])
        delta = max(16, int(np.abs(np.diff(blk[:40])).mean()) // 4)
        hdr = bytes([pred_idx]) \
            + (delta & 0xFFFF).to_bytes(2, "little") \
            + (s1 & 0xFFFF).to_bytes(2, "little") \
            + (s2 & 0xFFFF).to_bytes(2, "little")
        nibs, recon = [], [s2, s1]
        for t in range(2, len(blk)):
            pred = (s1 * c1 + s2 * c2) // 256
            err = int(blk[t]) - pred
            nyb = max(-8, min(7, int(round(err / delta))))
            out = max(-32768, min(32767, pred + nyb * delta))
            s2, s1 = s1, out
            delta = max(16, (int(_MS_ADAPT[nyb & 0x0F]) * delta) // 256)
            nibs.append(nyb & 0x0F)
            recon.append(out)
        if len(nibs) % 2:
            nibs.append(0)
            recon.append(None)            # padding nibble, trimmed
        data = bytes((nibs[i] << 4) | nibs[i + 1]
                     for i in range(0, len(nibs), 2))
        return hdr + data, recon

    payload, recon = bytearray(), []
    padded = np.concatenate([mono, np.zeros(spb * 3 - n, np.int64)])
    for b in range(3):
        d, r = encode_block(padded[b * spb:(b + 1) * spb])
        payload.extend(d)
        recon.extend(v for v in r if v is not None)

    fmt = (int(0x02).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + rate.to_bytes(4, "little") + rate.to_bytes(4, "little")
           + block_align.to_bytes(2, "little")
           + (4).to_bytes(2, "little"))
    fact = n.to_bytes(4, "little")
    body = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"fact" + len(fact).to_bytes(4, "little") + fact
            + b"data" + len(payload).to_bytes(4, "little")
            + bytes(payload))
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body

    got, got_rate = decode_wav_py(wav)
    assert got_rate == rate and got.shape == (n, 1)
    np.testing.assert_array_equal(
        np.round(got[:, 0] * 32768.0).astype(np.int64),
        np.array(recon[:n]))
    # lossy but waveform-tracking
    err = np.abs(got[:, 0] * 32768.0 - mono)
    assert np.median(err) < 800


# ---------------------------------------- property / fuzz hardening

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
def test_extract_main_text_never_raises_on_hostile_bytes(payload):
    """Crawl payloads are adversarial: any byte soup must come back
    as a str from both methods, never an exception."""
    from pipelinedb_spark.operators.warc import extract_main_text

    assert isinstance(extract_main_text(payload), str)
    assert isinstance(extract_main_text(payload, method="strip"), str)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>/ab ps&#;x!-\"'=\n", max_size=300))
def test_extract_main_text_never_raises_on_markup_soup(text):
    from pipelinedb_spark.operators.warc import extract_main_text

    out = extract_main_text(text.encode())
    assert isinstance(out, str)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.sampled_from(["append", "replace", "gc"]),
                min_size=1, max_size=12))
def test_indexstore_model_equivalence_under_op_sequences(ops):
    """Model-based property: any sequence of append/replace/gc
    commits leaves dirs() equal to a trivial in-memory model, GC
    never touches live dirs, version strictly increases, and meta
    set at each commit is the meta read after it."""
    import os
    import shutil
    import tempfile

    from pipelinedb_spark.indexstore import IndexStore

    root = tempfile.mkdtemp(prefix="idxprop")
    try:
        s = IndexStore(root, gc_grace_seconds=0.0)
        s.init_if_needed({"v": 0})
        model = []
        ver = 0
        for i, op in enumerate(ops):
            if op == "gc":
                s.gc()
            else:
                staged = s.stage()
                os.makedirs(staged)
                with open(os.path.join(staged, "f.txt"), "w") as f:
                    f.write(str(i))
                final = s.commit(staged, replace=(op == "replace"),
                                 meta={"v": i})
                if op == "replace":
                    model = [final]
                else:
                    model.append(final)
                assert s.meta() == {"v": i}
                m = s.read_manifest()
                assert m["version"] > ver
                ver = m["version"]
            assert s.dirs() == model
            for d in model:     # live data always intact
                assert os.path.exists(os.path.join(d, "f.txt"))
        s.gc()
        on_disk = {e for e in os.listdir(root)
                   if os.path.isdir(os.path.join(root, e))}
        assert on_disk == {os.path.basename(d) for d in model}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_kcenter_select_matches_numpy_greedy_oracle(spark):
    """Greedy k-center: the distributed selection equals an exact
    numpy implementation of Gonzalez greedy (same seed exemplar, same
    larger-id tiebreak), sel_dist is non-increasing, and the selected
    set covers the corpus within its own last radius."""
    import numpy as np

    from pipelinedb_spark.operators.similarity import kcenter_select

    rng = np.random.RandomState(17)
    n, dim, k = 120, 8, 10
    vecs = rng.randn(n, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>")

    got = sorted(((r["vec_id"], r["sel_order"], r["sel_dist"])
                  for r in kcenter_select(df, k, seed=3).collect()),
                 key=lambda t: t[1])

    # numpy oracle: same hash-seeded start, same tiebreak
    import pandas as pd
    start = got[0][0]           # seed exemplar from the hash order
    sel = [start]
    d = 1.0 - vecs @ vecs[start]
    want = [(start, 0)]
    for r in range(1, k):
        best = np.max(d)
        cands = np.where(d >= best - 1e-12)[0]
        nid = int(cands.max())          # larger-id tiebreak
        want.append((nid, r))
        sel.append(nid)
        d = np.minimum(d, 1.0 - vecs @ vecs[nid])

    assert [(g[0], g[1]) for g in got] == want
    dists = [g[2] for g in got[1:]]
    assert all(a >= b - 1e-12 for a, b in zip(dists, dists[1:]))
    # coverage: every point within the final radius of some exemplar
    radius = dists[-1]
    dmin = np.min(1.0 - vecs @ vecs[sel].T, axis=1)
    assert dmin.max() <= radius + 1e-9

    # degenerate corpora
    assert kcenter_select(df.limit(0), 3).count() == 0
    dup = spark.createDataFrame([(i, [1.0, 0.0]) for i in range(5)],
                                "vec_id long, embedding array<double>")
    few = kcenter_select(dup, 3).collect()
    assert len(few) == 1       # identical points: selection stops


def test_normalize_url_and_url_dedup(spark):
    """URL canonicalization: scheme/host case, default ports,
    fragments, tracking params, param order, trailing slash — all
    collapse; non-URLs pass through untouched; url_dedup keeps the
    smallest id per canonical page."""
    from pipelinedb_spark.operators.text import normalize_url, url_dedup

    cases = [
        ("HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/p/?fbclid=abc", "https://example.com/p"),
        ("https://e.com/p?z=1&a=2", "https://e.com/p?a=2&z=1"),
        # 'ref' is FUNCTIONAL on many sites (branch refs) — kept
        # since round 9 (ADVICE r8); strippable via tracking_params=
        ("https://e.com/p?ref=tw", "https://e.com/p?ref=tw"),
        ("not a url at all", "not a url at all"),
        ("ftp://e.com/x", "ftp://e.com/x"),      # non-http: untouched
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in
           df.select("i", normalize_url(F.col("url")).alias("c"))
           .collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)

    docs = spark.createDataFrame(
        [(1, "https://E.com/page?utm_source=a", "v1"),
         (2, "https://e.com/page", "v2"),
         (3, "https://e.com/page#sec", "v3"),
         (4, "https://e.com/other", "v4")],
        "doc_id long, url string, text string")
    kept = url_dedup(docs).collect()
    assert {r["doc_id"] for r in kept} == {1, 4}
    assert {r["canonical_url"] for r in kept} == \
        {"https://e.com/page", "https://e.com/other"}
    # plan stays JVM-side: no Python UDFs in the canonicalization
    plan = url_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


@settings(max_examples=250, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_wav_decoders_never_escape_on_hostile_bytes(payload):
    """The decoder-hardening contract extended to the new audio
    codecs: arbitrary bytes (with or without a RIFF/WAVE prelude)
    either decode, return None, or raise ValueError /
    NotImplementedError — nothing else escapes, no allocation from
    unvalidated sizes."""
    from pipelinedb_spark.operators.multimodal import decode_wav_py

    for pre in (b"", b"RIFF\x40\x00\x00\x00WAVE"):
        try:
            out = decode_wav_py(pre + payload)
            assert out is None or (out[0].ndim == 2 and out[1] >= 1)
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_lossless_jpeg_decoder_never_escapes(payload):
    from pipelinedb_spark.operators.jpeg import decode_jpeg_py

    # force the SOF3 parse path with a plausible prelude
    pre = b"\xff\xd8\xff\xc3\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    try:
        decode_jpeg_py(pre + payload)
    except (ValueError, NotImplementedError, KeyError):
        pass


def test_url_dedup_null_and_scheme_port_review_findings(spark):
    """Review findings: (a) NULL/empty/non-http URLs PASS THROUGH
    url_dedup instead of being dropped or collapsed; (b) only the
    scheme's OWN default port is stripped (https:80 is a distinct
    origin from https:443)."""
    from pipelinedb_spark.operators.text import normalize_url, url_dedup

    docs = spark.createDataFrame(
        [(1, "https://e.com/p"), (2, None), (3, None),
         (4, ""), (5, ""), (6, "ftp://x/y"), (7, "ftp://x/y"),
         (8, "https://E.com/p#z")],
        "doc_id long, url string")
    kept = url_dedup(docs).collect()
    # 1 wins over 8; everything non-http survives untouched
    assert {r["doc_id"] for r in kept} == {1, 2, 3, 4, 5, 6, 7}
    by_id = {r["doc_id"]: r["canonical_url"] for r in kept}
    assert by_id[1] == "https://e.com/p"
    assert by_id[2] is None and by_id[4] is None and by_id[6] is None

    vals = {u: spark.createDataFrame([(u,)], "url string")
            .select(normalize_url(F.col("url")).alias("c")).first()["c"]
            for u in ["https://e.com:80/x", "http://e.com:443/x",
                      "http://e.com:80/x", "https://e.com:443/x"]}
    assert vals["https://e.com:80/x"] == "https://e.com:80/x"
    assert vals["http://e.com:443/x"] == "http://e.com:443/x"
    assert vals["http://e.com:80/x"] == "http://e.com/x"
    assert vals["https://e.com:443/x"] == "https://e.com/x"


def test_matrel_legacy_int_txns_upgraded_not_evicted(spark, tmp_path):
    """Review finding: pre-round-8 plain-int txn entries must be
    stamped as recently-touched on the first post-upgrade commit, not
    evicted in arbitrary dict order."""
    import json

    store = MatrelStore(spark, str(tmp_path), "m", num_buckets=2)
    store.gc_grace_seconds = 0.0

    def merge_fn(df):
        from pipelinedb_spark.matrel import BUCKET_COL
        return df.groupBy("k", BUCKET_COL).agg(F.sum("n").alias("n"))

    batch = spark.createDataFrame([("a", 1)], "k string, n long")
    store.merge(batch, ["k"], merge_fn, txn=("boot", 1))
    # simulate a pre-upgrade manifest: many legacy int entries
    m = store._read_manifest()
    m["txns"] = {f"legacy{i}": 3 for i in range(MAX_TXN_SOURCES - 2)}
    store._write_manifest(m)

    store.merge(batch, ["k"], merge_fn, txn=("new", 1))
    # nothing evicted (63 legacy + 1 new ≤ bound), every legacy entry
    # upgraded with a touched stamp and still replay-detectable
    assert store.txn_version("legacy0") == 3
    assert store.txn_version(f"legacy{MAX_TXN_SOURCES - 3}") == 3
    assert store.txn_version("new") == 1
    txns = store._read_manifest()["txns"]
    assert all(isinstance(v, list) for v in txns.values())


def test_extraction_multilingual_stopword_density():
    """The density signal covers the major European crawl languages
    (union stopword set): German/French/Spanish article paragraphs
    survive extraction while their nav link-lists drop — no fallback
    to tag-strip needed."""
    from pipelinedb_spark.operators.warc import extract_main_text

    nav = ("<nav>\n" + "\n".join(
        f'<li><a href="/{i}">Link {i}</a></li>'
        for i in range(10)) + "\n</nav>")
    paras = {
        "de": "Der Ausschuss hat den Vorschlag im Detail geprüft und "
              "festgestellt dass die meisten Einwände bereits im "
              "zweiten Entwurf behandelt wurden der vor der Sitzung "
              "an alle Mitglieder verteilt worden war.",
        "fr": "Le comité a examiné la proposition en détail et il a "
              "constaté que la plupart des objections étaient déjà "
              "traitées dans le deuxième projet distribué à tous les "
              "membres avant la réunion du budget annuel.",
        "es": "El comité examinó la propuesta en detalle y encontró "
              "que la mayoría de las objeciones ya estaban tratadas "
              "en el segundo borrador que fue distribuido entre "
              "todos los miembros antes de la reunión del año.",
    }
    for lang, para in paras.items():
        page = (f"<html><body>\n{nav}\n<article><p>{para}</p>"
                f"</article>\n{nav}\n</body></html>").encode()
        out = extract_main_text(page)
        assert para in out, lang
        assert "Link 3" not in out, lang

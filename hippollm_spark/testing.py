"""Deterministic fakes for model-dependent operators.

The reference tests with random langchain ``FakeEmbeddings(size=740)``
(reference tests/test_storage.py:24), which is only structurally
deterministic. For cross-engine hash-matching we need fully reproducible
vectors, so we use the FIXTURES.md §5 hash embedding:

    v[i] = (sha256(text || str(i)) mod 2001 - 1000) / 1000.0

LLM / NLI backends are scripted lookup tables (see pipelines.backends).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hash_embedding(text: str, dim: int = 384) -> list[float]:
    """Deterministic pseudo-embedding of ``text`` (driver-side helper).

    dim i = sha256(text + str(i)) as a 256-bit int, mod 2001, affine to
    [-1, 1]. The shared-prefix hash state is computed once and
    ``copy()``d per dim — identical digests, ~5× fewer bytes hashed."""
    base = hashlib.sha256(text.encode("utf-8"))
    out = np.empty(dim, dtype=np.float64)
    for i in range(dim):
        h = base.copy()
        h.update(str(i).encode("utf-8"))
        out[i] = (int.from_bytes(h.digest(), "big") % 2001 - 1000) / 1000.0
    return [float(x) for x in out]


def hash_embedding_udf(dim: int = 384) -> Column:
    """Arrow-batched pandas_udf computing the hash embedding per row.

    This stands in for the SentenceTransformer pandas_udf of the real
    embedding stage (reference storage.py:117-122) — same signature and
    batching, deterministic output.
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embedding("" if t is None else t, dim))

    return _embed


def embed_column(col: Column | str, dim: int = 384) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return hash_embedding_udf(dim)(c)


class PairCountingNLI:
    """NLI spy that tallies gated pair-batch sizes into a shared-FS
    file and entails nothing. Lives here (not in a test module) so
    executor processes can unpickle it; in local mode the temp file is
    visible to every worker. Used to assert O(batch·k) candidate
    bounds on the dedup gate."""

    def __init__(self, path: str):
        self.path = path

    def score_pairs(self, pairs):
        with open(self.path, "a") as f:
            f.write(f"{len(pairs)}\n")
        return [None for _ in pairs]

    def detect_entailment(self, premise, hypothesis):
        return False


class CountingLLM:
    """LLM spy that counts ``invoke`` calls per prompt template of
    ``pipelines.prompts`` on Spark accumulators and answers through
    ``inner``. Executor-side calls reach the driver with each finished
    task, so ``counts()`` tells how many times a model stage ran."""

    KINDS = (
        "CONTEXTUALIZATION",
        "ANNOTATION",
        "REFORMULATION",
        "CONFRONTATION",
        "ENTITY_EXTRACTION",
        "ENTITY_EQUIVALENCE",
    )

    def __init__(self, spark, inner):
        from hippollm_spark.pipelines import prompts

        self.inner = inner
        self.accs = {k: spark.sparkContext.accumulator(0) for k in self.KINDS}
        # a template's text before its first slot identifies it
        self.heads = {k: getattr(prompts, k).split("{", 1)[0] for k in self.KINDS}

    def invoke(self, prompt, grammar=None, max_tokens=None, stop=None) -> str:
        for kind, head in self.heads.items():
            if prompt.startswith(head):
                self.accs[kind].add(1)
                break
        return self.inner.invoke(prompt, grammar, max_tokens, stop)

    def counts(self) -> dict[str, int]:
        return {k: a.value for k, a in self.accs.items()}


class FakeSentenceTransformerModel:
    """Deterministic stand-in for a SentenceTransformer: vector =
    [len(text), 1.0, 0.0]. Module-level so executor processes can
    unpickle loaders that reference it."""

    def encode(self, texts, batch_size=32):
        import numpy as np

        return np.array([[float(len(t)), 1.0, 0.0] for t in texts])


class FakeCrossEncoderModel:
    """Deterministic stand-in for an NLI CrossEncoder: a pair entails
    (label argmax == 1) iff premise and hypothesis share their first
    word; the entail logit is the premise length."""

    def predict(self, pairs):
        import numpy as np

        out = []
        for p, h in pairs:
            if p.split()[:1] == h.split()[:1]:
                out.append([0.1, float(len(p)), 0.2])
            else:
                out.append([0.9, 0.1, 0.2])
        return np.array(out)


def fake_st_loader(model_name: str):
    return FakeSentenceTransformerModel()


def fake_ce_loader(model_name: str):
    return FakeCrossEncoderModel()


# --------------------------------------------------------------------------
# Test-support baseline JPEG ENCODER (pure numpy) — the fixture
# generator for operators/multimodal._decode_baseline_jpeg. Emits
# valid T.81 baseline-sequential JFIF streams with simple canonical
# Huffman tables (flat 4-bit DC / 8-bit AC codes — any valid table is
# legal; the decoder must honor whatever DHT declares). Supports
# grayscale + RGB, 4:4:4 and 4:2:0, optional restart intervals.
# Driver-side only (test fixtures), never shipped to executors.
# --------------------------------------------------------------------------

_JPEG_QL = [  # Annex K.1 luminance quantization table (row-major)
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [  # Annex K.2 chrominance quantization table
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1-bits


def _jpeg_simple_hufftables():
    """(counts, symbols, codemap) for flat canonical tables: DC
    categories 0..11 at 4 bits, all 162 AC (run,size) symbols at
    8 bits. Returns dicts keyed like DHT (class, id ignored here)."""
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    def codemap(counts, syms):
        code, k, out = 0, 0, {}
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                out[syms[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return out
    return (
        (dc_counts, dc_syms, codemap(dc_counts, dc_syms)),
        (ac_counts, ac_syms, codemap(ac_counts, ac_syms)),
    )


def _jpeg_category(v: int) -> int:
    t, a = 0, abs(v)
    while a:
        t += 1
        a >>= 1
    return t


def _jpeg_encode_block(bw, block, q, dc_map, ac_map, pred):
    import numpy as np

    from hippollm_spark.operators.multimodal import DCT_A, ZIGZAG

    F = DCT_A @ (block - 128.0) @ DCT_A.T
    # zigzag-order coefs (zz[k] = F_flat[ZIGZAG[k]]) quantized by the
    # zigzag-ordered table
    zz = np.round(F.reshape(64)[ZIGZAG] / q).astype(np.int64)
    diff = int(zz[0]) - pred
    t = _jpeg_category(diff)
    code, ln = dc_map[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_map[0xF0]
            bw.put(code, ln)
            run -= 16
        s = _jpeg_category(v)
        code, ln = ac_map[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_map[0x00]  # EOB
        bw.put(code, ln)
    return int(zz[0])


def encode_baseline_jpeg(
    arr, *, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    baseline-sequential JFIF byte stream (Annex K quant tables, simple
    canonical Huffman tables, 4:4:4 or 4:2:0)."""
    import numpy as np

    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError("encode_baseline_jpeg expects uint8")
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
        sampling = [(1, 1)]
        qids = [0]
    else:
        r, g, b = (arr[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            def _down(p):
                ph = p[: (h // 2) * 2, : (w // 2) * 2] if h >= 2 and w >= 2 else p
                eh = ph.reshape(ph.shape[0] // 2, 2, ph.shape[1] // 2, 2)
                return eh.mean(axis=(1, 3))
            planes = [y, _down(cb), _down(cr)]
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "444":
            planes = [y, cb, cr]
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(subsampling)
        qids = [0, 1, 1]
    maxh = max(s[0] for s in sampling)
    maxv = max(s[1] for s in sampling)
    from hippollm_spark.operators.multimodal import ZIGZAG

    # quant tables stored/applied in ZIGZAG order
    qz = [
        np.array([_JPEG_QL[ZIGZAG[k]] for k in range(64)], dtype=np.float64),
        np.array([_JPEG_QC[ZIGZAG[k]] for k in range(64)], dtype=np.float64),
    ]
    # pad each plane to its own block grid aligned to the MCU grid
    mcus_x = -(-w // (8 * maxh))
    mcus_y = -(-h // (8 * maxv))
    padded = []
    for p, (sh, sv) in zip(planes, sampling):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        pp = np.empty((th, tw))
        ph, pw = p.shape
        pp[:ph, :pw] = p
        pp[ph:, :pw] = p[ph - 1 : ph, :]
        pp[:, pw:] = pp[:, pw - 1 : pw]
        padded.append(pp)

    (dc_counts, dc_syms, dc_map), (ac_counts, ac_syms, ac_map) = (
        _jpeg_simple_hufftables()
    )
    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    seg(0xDB, bytes([0x00]) + bytes(_JPEG_QL[ZIGZAG[k]] for k in range(64)))
    if not gray:
        seg(0xDB, bytes([0x01]) + bytes(_JPEG_QC[ZIGZAG[k]] for k in range(64)))
    ncomp = 1 if gray else 3
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sh, sv = sampling[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, qids[ci]])
    seg(0xC0, bytes(sof))
    for cls, cnts, syms in (
        (0x00, dc_counts, dc_syms),
        (0x10, ac_counts, ac_syms),
        (0x01, dc_counts, dc_syms),
        (0x11, ac_counts, ac_syms),
    ):
        seg(0xC4, bytes([cls]) + bytes(cnts) + bytes(syms))
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    bw = _JpegBitWriter()
    preds = [0] * ncomp
    n_mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bw.flush()
                out.extend(bw.out)
                bw = _JpegBitWriter()
                out.extend(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                preds = [0] * ncomp
            for ci in range(ncomp):
                sh, sv = sampling[ci]
                q = qz[qids[ci]]
                dmap = dc_map
                amap = ac_map
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _jpeg_encode_block(
                            bw, block, q, dmap, amap, preds[ci]
                        )
            n_mcu += 1
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)

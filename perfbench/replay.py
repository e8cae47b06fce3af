"""Single-process replay of the Python layers over a workload's own inputs.

The extraction UDFs run inside Spark's Python workers, where the
benchmark cannot time them call by call.  The replay reads the same
corpus with pyarrow and calls the UDF bodies directly: `decode_media`
(the codec layer, split by the format sniffed from each payload header),
the OCR kernel stages `median3`, `binarize`, `estimate_skew`,
`rotate_bilinear` and `connected_components`, the whole `decode_image`,
and Arc90's `extract_main_text`.

Each call kind is called once untimed, then sampled evenly over the
corpus (at most `per_kind` calls), and its mean cost is scaled by the
number of such calls one pass over the corpus makes, so every `*_s` value
estimates the seconds one pass spends in that layer, summed over workers.  The counts
(`codec.images`, `arc90.calls`) are exact.
"""

from __future__ import annotations

import time
from collections import defaultdict

import pyarrow.parquet as pq

CODECS = ("png", "jpeg", "jpeg_progressive", "jpeg_color", "tiff")
KERNEL_STAGES = ("median3", "binarize", "skew", "rotate", "cc", "decode_image")

# JPEG start-of-frame markers (all except DHT C4, JPG C8, DAC CC)
_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def sniff(buf: bytes) -> str | None:
    """Codec bucket of a payload from its header; None if no codec takes it."""
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if buf[:4] in (b"II*\0", b"MM\0*"):
        return "tiff"
    if buf[:3] != b"\xff\xd8\xff":
        return None
    i = 2
    while i + 4 <= len(buf) and buf[i] == 0xFF:
        marker = buf[i + 1]
        seg = int.from_bytes(buf[i + 2 : i + 4], "big")
        if marker in _SOF and i + 10 <= len(buf):
            if buf[i + 9] >= 3:
                return "jpeg_color"
            return "jpeg_progressive" if marker in (0xC2, 0xC6, 0xCA, 0xCE) else "jpeg"
        if marker == 0xDA:
            break
        i += 2 + seg
    return "jpeg"


def _strided(items: list, n: int) -> list:
    if len(items) <= n:
        return items
    step = len(items) / n
    return [items[int(k * step)] for k in range(n)]


def _warm(fn, args: list) -> None:
    """One untimed call, as the Python workers, which have run the same
    code in earlier units, hold its lazily built tables already."""
    for a in args:
        try:
            fn(a)
        except Exception:
            pass


def replay(paths: dict[str, str], per_kind: int = 24) -> dict[str, float]:
    from ms_ocr_spark.extraction.arc90 import extract_main_text
    from ms_ocr_spark.extraction.ocr import decode_image, decode_media
    from ms_ocr_spark.extraction.ocr.kernel import (
        binarize,
        connected_components,
        estimate_skew,
        median3,
        rotate_bilinear,
    )

    docs = pq.read_table(paths["documents"], columns=["spans"]).column("spans").to_pylist()
    payloads = dict(
        zip(
            *pq.read_table(paths["media_store"], columns=["media_ref", "payload"])
            .to_pydict()
            .values()
        )
    )
    truth = {
        s["media_ref"]: s["text"]
        for spans in pq.read_table(paths["golden_spans"], columns=["spans"])
        .column("spans")
        .to_pylist()
        for s in spans
        if s["kind"] == "media"
    }
    texts: list[str] = []
    media_by_codec: dict[str, list[tuple[str, bytes]]] = defaultdict(list)
    for spans in docs:
        for s in spans:
            if s["kind"] == "text":
                if s["text"] is not None:
                    texts.append(s["text"])
                continue
            buf = payloads.get(s["media_ref"])
            codec = sniff(buf) if buf is not None else None
            if codec is not None:
                media_by_codec[codec].append((s["media_ref"], buf))

    out: dict[str, float] = {"arc90.calls": float(len(texts))}
    t_arc = 0.0
    sample = _strided(texts, 10 * per_kind)
    _warm(extract_main_text, sample[:1])
    for html in sample:
        t0 = time.perf_counter()
        extract_main_text(html)
        t_arc += time.perf_counter() - t0
    out["arc90.s"] = t_arc / len(sample) * len(texts) if sample else 0.0

    stage_s: dict[str, float] = defaultdict(float)
    exact = decoded = 0
    out["codec.images"] = float(sum(len(v) for v in media_by_codec.values()))
    for codec in CODECS:
        items = media_by_codec.get(codec, [])
        sample = _strided(items, per_kind)
        codec_s = 0.0
        kern: dict[str, float] = defaultdict(float)
        _warm(lambda buf: decode_image(decode_media(buf)), [buf for _, buf in sample[:1]])
        for ref, buf in sample:
            t0 = time.perf_counter()
            try:
                img = decode_media(buf)
            except Exception:  # out-of-scope payloads fail here in the UDF too
                codec_s += time.perf_counter() - t0
                continue
            t1 = time.perf_counter()
            codec_s += t1 - t0
            den = median3(img)
            t2 = time.perf_counter()
            mask = binarize(den)
            t3 = time.perf_counter()
            corr = estimate_skew(mask)
            t4 = time.perf_counter()
            if corr != 0.0:
                mask = binarize(rotate_bilinear(den, corr), 160)
            t5 = time.perf_counter()
            connected_components(mask)
            t6 = time.perf_counter()
            text = decode_image(img)
            t7 = time.perf_counter()
            for name, dt in zip(KERNEL_STAGES, (t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5, t7 - t6)):
                kern[name] += dt
            decoded += 1
            exact += text == truth.get(ref)
        scale = len(items) / len(sample) if sample else 0.0
        out[f"codec.{codec}_s"] = codec_s * scale
        for name, dt in kern.items():
            stage_s[name] += dt * scale
    for name in KERNEL_STAGES:
        out[f"kernel.{name}_s"] = stage_s[name]
    out["kernel.exact_ratio"] = exact / decoded if decoded else 0.0
    out["replay.udf_s"] = (
        sum(out[f"codec.{c}_s"] for c in CODECS) + out["kernel.decode_image_s"] + out["arc90.s"]
    )
    return out

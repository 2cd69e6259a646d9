"""The ``operators`` decode kernels, timed in-process with no Spark.

The corpus comes from the run's seed and the package's own writers; each
decoder's output is checked against what its encoder was given.

| metric                     | writer                        | timed decoder                 |
|----------------------------|-------------------------------|-------------------------------|
| ``operators.pdf_aes_s``    | ``pdf.write_pdf_encrypted``   | ``pdf.extract_pdf_text``      |
| ``operators.webp_lossless_s`` | ``vp8l.encode_webp_lossless`` | ``vp8l.decode_webp_lossless`` |
| ``operators.docx_s``       | ``ooxml.write_docx``          | ``ooxml.extract_docx_text``   |
| ``operators.png_s``        | ``multimodal.encode_png``     | ``multimodal.decode_image_real`` |

Each value is the median, over ``repeats`` rounds, of the seconds to decode
the whole corpus once.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from datagen import _VOCAB

_LINE = 60  # characters per PDF line / DOCX paragraph
_PAGE_LINES = 20


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    return [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), rng.integers(8, 91))]) for _ in range(n)]


def _lines(text: str) -> list[str]:
    return [text[i : i + _LINE] for i in range(0, len(text), _LINE)] or [""]


def corpus(seed: int, n: int = 24) -> dict[str, list[tuple[bytes, object]]]:
    """``{kernel: [(encoded blob, expected decode), ...]}``."""
    from etl_pipeline_old_spark.operators import multimodal, ooxml, pdf, vp8l

    rng = np.random.default_rng([seed, 7])
    texts = _texts(rng, n)
    out: dict[str, list[tuple[bytes, object]]] = {k: [] for k in ("pdf_aes", "webp_lossless", "docx", "png")}
    for i, text in enumerate(texts):
        lines = _lines(text)
        pages = [lines[j : j + _PAGE_LINES] for j in range(0, len(lines), _PAGE_LINES)]
        blob = pdf.write_pdf_encrypted(pages, rev=4 + i % 3, compress=i % 2 == 1)
        out["pdf_aes"].append((blob, pages))
        side = 16
        argb = [0xFF000000 | int(v) for v in rng.integers(0, 1 << 24, side * side)]
        argb[side : 2 * side] = [argb[side]] * side  # one run for the LZ77 path
        kw = ({}, {"subtract_green": True}, {"use_lz77": True}, {"cache_bits": 4})[i % 4]
        out["webp_lossless"].append((vp8l.encode_webp_lossless(side, side, argb, **kw), (side, side, argb)))
        out["docx"].append((ooxml.write_docx(lines), lines))
        gray = [int(v) for v in rng.integers(0, 256, side * side)]
        png = multimodal.encode_png(gray, side, side, color_type=(0, 2, 4, 6)[i % 4], filter_type=i % 5)
        out["png"].append((png, (side, side, gray)))
    return out


def _decoders():
    from etl_pipeline_old_spark.operators import multimodal, ooxml, pdf, vp8l

    return {
        "pdf_aes": pdf.extract_pdf_text,
        "webp_lossless": vp8l.decode_webp_lossless,
        "docx": ooxml.extract_docx_text,
        "png": multimodal.decode_image_real,
    }


def time_kernels(seed: int, repeats: int = 3) -> tuple[dict[str, float], list[str]]:
    """``({"operators.<kernel>_s": seconds}, [mismatch descriptions])``."""
    data = corpus(seed)
    times, problems = {}, []
    for kernel, decode in _decoders().items():
        rounds = []
        for r in range(repeats):
            t = time.perf_counter()
            got = [decode(blob) for blob, _ in data[kernel]]
            rounds.append(time.perf_counter() - t)
            if r == 0:
                for i, ((_, want), g) in enumerate(zip(data[kernel], got)):
                    if g != want:
                        problems.append(f"operators.{kernel} item {i}: decode differs from encoder input")
        times[f"operators.{kernel}_s"] = statistics.median(rounds)
    return times, problems

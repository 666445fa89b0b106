"""Regression tests for the round-8 ADVICE items fixed in round 9.

1. (low) decode_gif must raise a clean ValueError — not IndexError /
   struct.error — on truncated or image-less payloads: the extension-skip
   loop, the image-descriptor unpack, the min-code byte, and the LZW
   sub-block walk are all bounds-checked now.
2. (low) parse_image_header reports channels=3 for palette (color type
   3) PNGs, matching what decode_png returns after PLTE expansion —
   header metadata and decode output agree for every supported color
   type.
3. (low) dsir_logweights applies ``toks_col`` per-DataFrame only where
   the column exists: staging tokens on the raw side only no longer
   raises an AnalysisException on the un-staged target branch.

The r9 rewriter widening (VERDICT r8 ask #3, correlated scalar
aggregate subqueries decorrelated to a GROUP-BY-key derived table) has
its cases in ``tests/test_registry.py``; the imports below keep
their names here.
"""

import pytest

from test_registry import (  # noqa: F401 (moved; the old names stay)
    test_builtin_outer_returns_directly,
    test_correlated_refusals,
    test_count_allowed_uncorrelated,
    test_q17_shape_decorrelates,
    test_uncorrelated_global_cross_joins,
)


# -- 1. decode_gif bounds-checks -------------------------------------------


def _gif_prefix():
    from arrow_udf_spark.operators.multimodal import synth_gif

    p = synth_gif("advice-r9")
    # locate the image descriptor (0x2C) after header + GCT
    packed = p[10]
    pos = 13 + 3 * (2 << (packed & 0x07))
    while p[pos] != 0x2C:
        if p[pos] == 0x21:
            pos += 2
            while p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        else:  # pragma: no cover — synth_gif always has a descriptor
            raise AssertionError("no image descriptor in synth_gif")
    return p, pos


def test_gif_truncated_before_descriptor():
    from arrow_udf_spark.operators.multimodal import decode_gif

    p, pos = _gif_prefix()
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(p[:pos])  # header + GCT only, no descriptor, no trailer


def test_gif_truncated_mid_descriptor():
    from arrow_udf_spark.operators.multimodal import decode_gif

    p, pos = _gif_prefix()
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(p[: pos + 4])  # descriptor cut mid-unpack


def test_gif_truncated_extension_block():
    from arrow_udf_spark.operators.multimodal import decode_gif

    p, pos = _gif_prefix()
    # splice an extension whose declared sub-block length runs past the
    # end of the payload — the skip loop must not walk off the buffer
    bad = p[:pos] + b"\x21\xfe\xff" + b"x" * 10
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(bad)


def test_gif_truncated_lzw_subblock():
    from arrow_udf_spark.operators.multimodal import decode_gif

    p, pos = _gif_prefix()
    # keep the descriptor + min-code byte, then declare a 200-byte
    # sub-block with only 3 bytes behind it
    bad = p[: pos + 11] + b"\xc8abc"
    with pytest.raises(ValueError, match="truncated GIF sub-block"):
        decode_gif(bad)


def test_gif_valid_still_decodes():
    from arrow_udf_spark.operators.multimodal import decode_gif, synth_gif

    w, h, ch, raw = decode_gif(synth_gif("advice-r9"))
    assert ch == 3 and raw.size == h * w * 3


# -- 2. palette PNG header channels == decode channels ---------------------


def test_palette_header_matches_decode():
    from arrow_udf_spark.operators.multimodal import (
        decode_png,
        parse_image_header,
        synth_png_pal,
    )

    p = synth_png_pal("advice-r9")
    m = parse_image_header(p)
    w, h, ch, _ = decode_png(p)
    assert ch == 3  # PLTE expansion
    assert (m["width"], m["height"], m["channels"]) == (w, h, ch)


# -- 3. dsir_logweights with one-sided toks_col ----------------------------


def test_dsir_one_sided_toks_col(spark):
    import pyspark.sql.functions as F

    from arrow_udf_spark.operators.sampling import dsir_logweights
    from arrow_udf_spark.operators.text import tokens

    rows = [(i, f"alpha beta gamma delta doc {i}") for i in range(20)]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = spark.createDataFrame(rows[:5], "doc_id long, text string")
    staged = raw.withColumn("__toks", tokens(F.col("text")))
    # toks_col staged on the raw side only: must not raise on the target
    got = dsir_logweights(staged, tgt, toks_col="__toks").orderBy("id")
    ref = dsir_logweights(raw, tgt).orderBy("id")
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in ref.collect()
    ]

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

Plus the r9 rewriter widening (VERDICT r8 ask #3): correlated scalar
aggregate subqueries — the provable q17 shape decorrelates to a
GROUP-BY-key derived table joined into FROM; everything outside the
contract refuses loudly (falls back / strict raises) rather than
mangling.
"""

import pytest


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


# -- 4. correlated-subquery rewrite: contract and refusals ------------------


_U = {"sum_udaf", "count_udaf"}


def test_q17_shape_decorrelates(rewrite, spark):
    from arrow_udf_spark.plans.registry import GLOBAL

    q = (
        "SELECT g, CAST(sum_udaf(v) AS BIGINT) AS s FROM t o "
        "WHERE o.q * 5 < (SELECT sum_udaf(i.q) FROM t i "
        "WHERE i.k = o.k) GROUP BY g"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "sum_udaf__mergevec" in rw
    # the derived table carries the two-phase agg keyed by the join key;
    # it joins the outer block's source, which its fold view reads
    plan = GLOBAL.sql(spark, q)._jdf.queryExecution().analyzed().toString()
    assert "__aus_corr0" in plan and "__ck0" in plan
    # the outer UDAF is ALSO two-phase (two distinct fold views)
    assert plan.count("MapInArrow") == 2


def test_builtin_outer_returns_directly(rewrite):
    # outer aggregates are native SUM/COUNT: after decorrelation nothing
    # else needs protecting, so the rewrite returns the joined form
    # without wrapping the outer block
    q = (
        "SELECT g, CAST(SUM(v) AS BIGINT) AS s FROM t o "
        "WHERE o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k) "
        "GROUP BY g"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "__aus_corr0" in rw
    assert "__aus_u" in rw  # the subquery's own two-phase scope
    assert "SELECT g, CAST(SUM(v) AS BIGINT) AS s" in rw  # outer verbatim


def test_uncorrelated_global_cross_joins(rewrite):
    q = (
        "SELECT o.id FROM t o "
        "WHERE o.q < (SELECT count_udaf(i.v) FROM t i)"
    )
    rw = rewrite(q, _U)
    assert rw is not None and "__aus_corr0" in rw
    assert "__ck" not in rw  # no key columns — single-row cross join


@pytest.mark.parametrize(
    "where",
    [
        # non-equi correlation: a GROUP BY cannot express it
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k < o.k)",
        # COUNT-headed KEYED subquery: 0-on-empty breaks the join-drop
        "o.q < (SELECT count_udaf(i.q) FROM t i WHERE i.k = o.k)",
        # unqualified correlation column: ambiguous scope
        "q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = k)",
        # OR around the comparison: TRUE via the other arm on join miss
        "o.x OR o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k)",
        # subquery with its own GROUP BY: not a scalar-per-key shape
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k GROUP BY i.j)",
        # outer column inside the aggregate args: correlation through
        # the argument, not expressible as a per-key GROUP BY
        "o.q < (SELECT sum_udaf(i.q + o.z) FROM t i WHERE i.k = o.k)",
        # bare unqualified identifier in the select item
        "o.q < (SELECT sum_udaf(q2) FROM t i WHERE i.k = o.k)",
        # unknown function inside an inner predicate
        "o.q < (SELECT sum_udaf(i.q) FROM t i WHERE i.k = o.k AND rand(i.j) > 0)",
    ],
)
def test_correlated_refusals(rewrite, where):
    assert rewrite(f"SELECT o.a FROM t o WHERE {where}", _U) is None


def test_count_allowed_uncorrelated(rewrite):
    # global aggregates always yield exactly one row — COUNT is exact
    q = "SELECT o.a FROM t o WHERE o.q < (SELECT count_udaf(i.q) FROM t i WHERE i.q > 0)"
    assert rewrite(q, _U) is not None

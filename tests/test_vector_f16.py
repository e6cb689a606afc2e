"""fp16 embedding storage codec (functions/vector.py): IEEE 754 binary16
bit patterns as array<smallint>, pure Catalyst.

The contract is numpy parity: quantize_f16 codes equal
``np.float16(x).view(np.int16)`` bit-for-bit, including round-half-even
ties and subnormals, with two deliberate deviations (both storage-codec
choices, documented in the docstrings):
  * -0.0 encodes as +0 (sign test is ``x < 0``);
  * overflow SATURATES to +/-65504 (0x7BFF) instead of inf.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.functions.vector import (dequantize_f16, f16_int24,
                                                  quantize_f16)


def _spark_codes(spark, values):
    df = spark.createDataFrame([(0, [float(v) for v in values])],
                               "id long, v array<double>")
    row = df.select(quantize_f16("v").alias("q"),
                    dequantize_f16(quantize_f16("v")).alias("d"),
                    F.transform(quantize_f16("v"), f16_int24).alias("i")
                    ).first()
    return (np.array(row["q"], dtype=np.int16),
            np.array(row["d"], dtype=np.float32),
            np.array(row["i"], dtype=np.int64))


class TestNumpyParity:
    def test_random_mixed_magnitudes(self, spark):
        rng = np.random.default_rng(7)
        vals = np.concatenate([
            rng.standard_normal(300),
            rng.standard_normal(150) * 1e-5,   # subnormal territory
            rng.standard_normal(100) * 1e-7,   # deep subnormal/underflow
            rng.standard_normal(100) * 1e4,    # large normals
        ]).astype(np.float32).astype(np.float64)
        codes, dec, i24 = _spark_codes(spark, vals)
        ref = vals.astype(np.float16)
        assert (codes == ref.view(np.int16)).all()
        assert (dec == ref.astype(np.float32)).all()
        assert (i24 == (ref.astype(np.float64) * 2 ** 24)
                .astype(np.int64)).all()

    def test_half_even_ties(self, spark):
        # values exactly halfway between two representable halves:
        # 1 + k*2^-10 + 2^-11 rounds to the EVEN mantissa neighbor
        vals = [1.0 + 2.0 ** -11,            # between m=0 and m=1 -> 0
                1.0 + 2.0 ** -10 + 2.0 ** -11,   # between 1 and 2 -> 2
                1.5 * 2.0 ** -24,            # subnormal tie: m 1|2 -> 2
                2.5 * 2.0 ** -24,            # subnormal tie: m 2|3 -> 2
                -(1.0 + 2.0 ** -11)]
        codes, _, _ = _spark_codes(spark, vals)
        ref = np.array(vals).astype(np.float16).view(np.int16)
        assert (codes == ref).all()

    def test_exact_values_round_trip(self, spark):
        vals = [0.0, 1.0, -1.0, 0.5, 2.0, 65504.0, -65504.0,
                2.0 ** -14, 2.0 ** -24, 6.1035156e-05, 1024.0, 0.099975586]
        codes, dec, _ = _spark_codes(spark, vals)
        ref = np.array(vals).astype(np.float16)
        assert (codes == ref.view(np.int16)).all()
        assert (dec == ref.astype(np.float32)).all()

    def test_power_of_two_exponent_correction(self, spark):
        # floor(log2) is a libm estimate; exact powers of two are where
        # an uncorrected exponent goes off by one
        vals = [2.0 ** e for e in range(-24, 16)] \
            + [-(2.0 ** e) for e in range(-24, 16)]
        codes, _, _ = _spark_codes(spark, vals)
        ref = np.array(vals).astype(np.float16).view(np.int16)
        assert (codes == ref).all()


class TestCodecChoices:
    def test_negative_zero_encodes_positive(self, spark):
        codes, dec, _ = _spark_codes(spark, [-0.0, 0.0])
        assert codes.tolist() == [0, 0]
        assert dec.tolist() == [0.0, 0.0]

    def test_overflow_saturates_to_max_finite(self, spark):
        codes, dec, _ = _spark_codes(spark, [1e6, -1e6, 65520.0, -65520.0])
        # negative saturation = sign bit | 0x7BFF = 0xFBFF -> -1025,
        # i.e. np.float16(-65504).view(np.int16)
        assert codes.tolist() == [0x7BFF, -1025, 0x7BFF, -1025]
        assert dec.tolist() == [65504.0, -65504.0, 65504.0, -65504.0]

    def test_underflow_to_zero(self, spark):
        # below 2^-25 (half the smallest subnormal) rounds to zero;
        # exactly 2^-25 is a tie against m=0 (even) -> zero
        codes, _, _ = _spark_codes(spark, [2.0 ** -26, 2.0 ** -25,
                                           1.1 * 2.0 ** -25])
        assert codes.tolist() == [0, 0, 1]

    def test_non_finite_inputs_clamp_not_garbage(self, spark):
        """NaN -> canonical quiet-NaN pattern (numpy's 0x7E00); ±Inf ->
        ±65504 by the same saturate rule as finite overflow. Without the
        clamp, floor(log2(inf)) wrapped in the non-ANSI int cast and
        produced arbitrary bit patterns."""
        import math

        codes, dec, _ = _spark_codes(
            spark, [math.inf, -math.inf, math.nan, 1.5])
        assert codes.tolist()[:2] == [0x7BFF, -1025]
        assert codes.tolist()[2] == 0x7E00
        assert codes.tolist()[3] == np.float16(1.5).view(np.int16)
        assert dec.tolist()[:2] == [65504.0, -65504.0]
        assert math.isnan(dec.tolist()[2])

    def test_null_propagates(self, spark):
        df = spark.createDataFrame([(0, None)], "id long, v array<double>")
        assert df.select(quantize_f16("v").alias("q")).first()["q"] is None


class TestRoundTrip:
    def test_relative_error_bound_normals(self, spark):
        rng = np.random.default_rng(11)
        vals = rng.standard_normal(500).astype(np.float32).astype(np.float64)
        vals = vals[np.abs(vals) >= 2.0 ** -14]
        _, dec, _ = _spark_codes(spark, vals)
        rel = np.abs(dec.astype(np.float64) - vals) / np.abs(vals)
        assert rel.max() <= 2.0 ** -11 + 1e-12

    def test_half_values_are_fixed_points(self, spark):
        # quantize(dequantize(quantize(x))) == quantize(x)
        rng = np.random.default_rng(13)
        vals = rng.standard_normal(200).astype(np.float64)
        codes1, dec, _ = _spark_codes(spark, vals)
        codes2, _, _ = _spark_codes(spark, dec.astype(np.float64))
        assert (codes1 == codes2).all()

    def test_dot_preserved_for_knn(self, spark):
        # fp16-roundtripped cosine ranks a realistic top-k identically
        rng = np.random.default_rng(17)
        mat = rng.standard_normal((50, 32))
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(50)],
            "id long, v array<double>")
        dec = df.select("id", dequantize_f16(quantize_f16("v")).alias("w"))
        q = dec.filter("id = 0").select(F.col("w").alias("qw"))
        scored = dec.crossJoin(q).select(
            "id", F.aggregate(
                F.zip_with("w", "qw",
                           lambda x, y: x.cast("double") * y.cast("double")),
                F.lit(0.0), lambda a, x: a + x).alias("s"))
        got = [r["id"] for r in scored.orderBy(F.desc("s")).limit(5)
               .collect()]
        exact = (mat @ mat[0]).argsort()[::-1][:5].tolist()
        assert got == exact


class TestExhaustive:
    def test_all_finite_codes_roundtrip_identically(self, spark):
        # the fp16 value space is small enough to check COMPLETELY:
        # decode every finite bit pattern and re-encode; the codec must
        # be the identity on its own range. Excluded: inf/nan (ef=31,
        # never produced by the saturating encoder) and -0 (canonicalized
        # to +0 by design). One Spark job for all 2^16 codes.
        from faisssearcher_spark.functions.vector import (dequantize_f16,
                                                          f16_int24,
                                                          quantize_f16)
        df = (spark.range(65536).withColumnRenamed("id", "u")
              .filter("u % 32768 < 31744 AND u != 32768")   # no inf/nan/-0
              .select(F.array(
                  F.when(F.col("u") >= 32768, F.col("u") - 65536)
                  .otherwise(F.col("u")).cast("smallint")).alias("codes")))
        out = df.select(
            F.col("codes")[0].alias("code"),
            quantize_f16(dequantize_f16("codes"))[0].alias("recode"),
            dequantize_f16("codes")[0].alias("val"),
            F.transform("codes", f16_int24)[0].alias("i24"))
        bad = out.filter("code != recode").count()
        assert bad == 0
        # and f16_int24 must equal the decoded float * 2^24 exactly
        mism = out.filter(
            (F.col("val").cast("double") * F.lit(float(2 ** 24)))
            .cast("long") != F.col("i24")).count()
        assert mism == 0


class TestPlan:
    def test_no_python_in_plan(self, spark):
        from faisssearcher_spark.plans.inspect import python_stages

        # built in the JVM: a frame from a Python list would scan a
        # PythonRDD, itself a Python stage
        df = spark.range(1).select(
            F.array(F.lit(1.0), F.lit(2.0)).alias("v"))
        assert python_stages(df.select(
            dequantize_f16(quantize_f16("v")).alias("w"),
            F.transform(quantize_f16("v"), f16_int24).alias("i"))) == 0

    def test_schema(self, spark):
        df = spark.createDataFrame([(0, [1.0])], "id long, v array<double>")
        out = df.select(quantize_f16("v").alias("q"),
                        dequantize_f16(quantize_f16("v")).alias("d"))
        assert out.schema["q"].dataType.simpleString() == "array<smallint>"
        assert out.schema["d"].dataType.simpleString() == "array<float>"

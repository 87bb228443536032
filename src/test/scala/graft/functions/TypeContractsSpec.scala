package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The raw-byte kernels read fixed-width array slots positionally
  * (getFloat/getLong); a mistyped column must fail at ANALYSIS, not
  * silently reinterpret bytes into garbage scores.
  */
class TypeContractsSpec extends SparkSpec {
  import spark.implicits._

  private val floats = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
  private val doubles = Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
  private val longs = Seq((1L, Array(1L, 2L))).toDF("id", "v")

  test("quantized_dot accepts array<float>, rejects array<double>") {
    val q = Array(1L, 1L)
    assert(floats.select(QuantizedDot.quantized_dot(col("v"), q)).count() == 1)
    val e = intercept[Exception] {
      doubles.select(QuantizedDot.quantized_dot(col("v"), q)).collect()
    }
    assert(e.getMessage.contains("array<float>") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("nearest_cell_q accepts array<bigint>, rejects array<float>") {
    val cents = Seq(0L -> Array(0L, 0L))
    assert(longs.select(NearestCellQ.nearest_cell_q(col("v"), cents)).count() == 1)
    val e = intercept[Exception] {
      floats.select(NearestCellQ.nearest_cell_q(col("v"), cents)).collect()
    }
    assert(e.getMessage.contains("array<bigint>") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

import graft.plans.{CosineSimilarity, DotProduct, MinHashSignature}

/** The GraftExtensions injection point: expression-level checks for
  * the types its builders construct, and pure SQL resolving the
  * injected functions on a fresh `GraftSession`. getOrCreate in a
  * shared test JVM would reuse the suite session (built without
  * extensions); `Builder.create()` always makes a new session on the
  * shared SparkContext and applies `withExtensions`. */
class ExtensionsSpec extends SparkSpec {

  private def farr(xs: Float*) =
    Literal.create(xs.toArray, ArrayType(FloatType))

  test("a fresh GraftSession resolves every injected function from SQL") {
    val suite = spark // the shared SparkContext exists before create()
    val fresh = GraftSession.builder(Some("local[2]"), 2).create()
    val (decomposed, composed) = ("e\u0301", "\u00e9")
    try {
      val r = fresh.sql(
        s"""SELECT
          |  cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
          |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c,
          |  dot_product(array(CAST(2.0 AS FLOAT)),
          |              array(CAST(3.0 AS FLOAT))) AS d,
          |  size(minhash_sig(array('a','b','c'), 8, 7)) AS k,
          |  size(minhash_shingle_sig(array('a','b','c','d'), 3, 16, 7)) AS ks,
          |  int_dot_product(
          |    quantize_vector(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT)),
          |                    array(2.0D, 0.5D)),
          |    quantize_vector(array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)),
          |                    array(2.0D, 0.5D))) AS qd,
          |  zorder2(3L, 1L) AS z,
          |  range_bucket(4.5D, array(1.0D, 3.0D, 7.0D)) AS rb,
          |  nfc_normalize('$decomposed') AS nfc,
          |  strip_accents('$composed') AS sa
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 1.0)
      assert(r.getDouble(1) == 6.0)
      assert(r.getInt(2) == 8)
      assert(r.getInt(3) == 16)
      assert(r.getLong(4) == -8001L)
      assert(r.getLong(5) == 7L)
      assert(r.getInt(6) == 2)
      assert(r.getString(7) == composed && r.getString(7).length == 1,
        "NFC composes e + combining acute into one code point")
      assert(r.getString(8) == "e")
    } finally {
      // never stop `fresh`: that would stop the shared SparkContext
      SparkSession.setActiveSession(suite)
      SparkSession.setDefaultSession(suite)
    }
  }

  test("expression eval matches expected values and types") {
    val cos = CosineSimilarity(farr(3f, 4f), farr(3f, 4f))
    assert(math.abs(cos.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
    val dot = DotProduct(farr(2f), farr(3f))
    assert(dot.eval(null).asInstanceOf[Double] == 6.0)
    val mh = MinHashSignature(
      Literal.create(Array("a", "b", "c"),
        ArrayType(org.apache.spark.sql.types.StringType)), 8, 7L)
    assert(mh.dataType == ArrayType(LongType, containsNull = false))
    assert(mh.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 8)
  }

  test("type checking rejects wrong argument types") {
    val bad = CosineSimilarity(Literal(1L), Literal(2L))
    assert(!bad.checkInputDataTypes().isSuccess)
    val badK = MinHashSignature(
      Literal.create(Array("a"),
        ArrayType(org.apache.spark.sql.types.StringType)), 0, 1L)
    assert(!badK.checkInputDataTypes().isSuccess)
  }

  test("fused shingle-minhash expression evals and type-checks") {
    import graft.plans.MinHashShingleSignature
    val toks = Literal.create(Array("a", "b", "c", "d"),
      ArrayType(org.apache.spark.sql.types.StringType))
    val e = MinHashShingleSignature(toks, 3, 8, 42L)
    assert(e.checkInputDataTypes().isSuccess)
    assert(e.dataType == ArrayType(LongType, containsNull = false))
    assert(e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 8)
    assert(!MinHashShingleSignature(toks, 0, 8, 42L)
      .checkInputDataTypes().isSuccess)
  }
}

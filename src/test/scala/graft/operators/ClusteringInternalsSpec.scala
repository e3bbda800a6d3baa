package graft.operators

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType, LongType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.VectorExpressions

/** The native DecDistArray kernel must be BIT-identical to the
  * zip_with/aggregate decimal chain it replaced — every cluster query's
  * oracle hash rides these exact DECIMAL(35,24) values. The twin
  * (`distArrayHof`) is that chain, kept here as this test's witness. */
class ClusteringInternalsSpec extends AnyFunSuite with SparkSpec {

  private val decX = DecimalType(16, 12)
  private val decM = DecimalType(8, 6)
  private val decT = DecimalType(35, 24)

  /** The original higher-order-function spelling of the per-cluster
    * distance structs the native kernel replaced. */
  private def distArrayHof(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, j) =>
      struct(
        aggregate(
          zip_with(v, typedLit(c.toSeq), (x, m) => {
            val dx = x.cast(decX) - m.cast(decM)
            (dx * dx).cast(decT)
          }),
          lit(0).cast(decT),
          (acc, t) => (acc + t).cast(decT)).as("d2"),
        lit(j).as("cl"))
    }: _*)

  private val cents: Array[Array[Double]] = Array(
    Array.tabulate(8)(i => (i - 3) * 1.25),
    Array.tabulate(8)(i => math.round(math.sin(i) * 1e6) / 1e6),
    Array.fill(8)(0.0),
    Array.tabulate(8)(i => -99.999999 + i))

  private def rows(vs: Seq[Seq[java.lang.Float]]) = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(FloatType, containsNull = true), nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v)
      }: _*), schema)
  }

  test("native dec_dist_array ≡ the HOF decimal chain, bit-for-bit") {
    val vecs: Seq[Seq[java.lang.Float]] = Seq(
      Seq[java.lang.Float](0f, -1.5f, 1e-8f, 2047.9f, -2047.9f, 123.456789f, 0.333333f, -7f),
      Seq[java.lang.Float](1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f),
      Seq.tabulate(8)(i => java.lang.Float.valueOf((math.Pi * (i + 1)).toFloat)),
      Seq.tabulate(8)(i => java.lang.Float.valueOf((-1e-4 * i).toFloat)),
      // shortest-repr / HALF_UP stress: floats whose decimal expansion is
      // long, and values right around centroid coordinates
      Seq[java.lang.Float](0.1f, 0.2f, 0.3f, 1.25f, -3.75f, -99.999999f, 0.7f, 1e-12f))
    val df = rows(vecs)
    val native = df.select(col("id"),
        VectorExpressions.decDistArray(col("v"), cents).as("d")).collect()
    val hof = df.select(col("id"),
        distArrayHof(col("v"), cents).as("d")).collect()
    assert(native.map(_.toString).toSeq == hof.map(_.toString).toSeq)
    // and through the real consumers (argmin / sort) on a real corpus
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val clean = Clustering.cleanVectors(emb)
    val viaNative = clean.select(col("vec_id"),
      array_min(VectorExpressions.decDistArray(col("v"),
        Clustering.modelFor(spark, "/root/testdata/sf0.001"))).as("b")).collect()
    val viaHof = clean.select(col("vec_id"),
      array_min(distArrayHof(col("v"),
        Clustering.modelFor(spark, "/root/testdata/sf0.001"))).as("b")).collect()
    assert(viaNative.map(_.toString).sorted.toSeq ==
      viaHof.map(_.toString).sorted.toSeq)
  }

  test("degenerate inputs match the zip_with contract: null d2, cl kept") {
    val vecs: Seq[Seq[java.lang.Float]] = Seq(
      Seq[java.lang.Float](1f, null, 3f, 4f, 5f, 6f, 7f, 8f), // null element
      Seq[java.lang.Float](1f, 2f, 3f),                        // too short
      Seq.tabulate(10)(i => java.lang.Float.valueOf(i.toFloat)), // too long
      Seq.empty[java.lang.Float])                              // empty
    val df = rows(vecs)
    val native = df.select(col("id"),
        VectorExpressions.decDistArray(col("v"), cents).as("d")).collect()
    val hof = df.select(col("id"),
        distArrayHof(col("v"), cents).as("d")).collect()
    assert(native.map(_.toString).toSeq == hof.map(_.toString).toSeq)
    native.foreach { r =>
      val arr = r.getSeq[Row](1)
      assert(arr.length == cents.length)
      assert(arr.forall(s => s.isNullAt(0)))
      assert(arr.map(_.getInt(1)) == cents.indices.toSeq)
    }
  }
}

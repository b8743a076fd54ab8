package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.F._

/** Native Catalyst vector expressions (graft_dot / graft_cosine):
  * registered via SparkSessionExtensions, codegen loop, and
  * bit-identical to both the HOF and the unrolled composition. */
class VectorExprsSpec extends SparkSpec {

  private def vecs = Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  test("graft_dot == HOF aggregate fold, bit for bit") {
    val df = vecs.limit(50)
      .withColumn("native", expr("graft_dot(v, v)"))
      .withColumn("hof", dot(col("v"), col("v")))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_cosine == dot/sqrt·sqrt composition, bit for bit") {
    val a = vecs.select(col("vec_id").as("ia"), col("v").as("va")).limit(20)
    val b = vecs.select(col("vec_id").as("ib"), col("v").as("vb")).limit(20)
    val df = a.crossJoin(b)
      .withColumn("native", expr("graft_cosine(va, vb)"))
      .withColumn("composed",
        dot(col("va"), col("vb")) / (sqrt(norm2(col("va"))) * sqrt(norm2(col("vb")))))
    assert(df.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("graft_cosine of a vector with itself is 1.0 (within fp)") {
    val bad = vecs.withColumn("c", expr("graft_cosine(v, v)"))
      .filter(abs(col("c") - 1.0) > 1e-12)
    assert(bad.count() == 0)
  }

  test("null array propagates null, not an exception") {
    val df = spark.range(1)
      .select(lit(null).cast("array<double>").as("a"),
        array(lit(1.0), lit(2.0)).as("b"))
      .withColumn("d", expr("graft_dot(a, b)"))
    assert(df.head().isNullAt(2))
  }

  test("ragged / null-element arrays mirror the HOF form: NULL, not garbage") {
    // length mismatch → zip_with pads with null → HOF fold is NULL;
    // null element in range → NULL. The native loop must match both.
    val df = spark.sql(
      """SELECT a, b,
        |  graft_dot(a, b) AS native,
        |  aggregate(zip_with(a, b, (x, y) -> x * y),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof,
        |  graft_cosine(a, b) AS native_cos
        |FROM VALUES
        |  (array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D)),
        |  (array(1.0D, 2.0D),       array(1.0D, 2.0D, 3.0D)),
        |  (array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)),
        |  (array(1.0D, 2.0D),       array(1.0D, 2.0D)) AS t(a, b)
        |""".stripMargin)
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.isNullAt(2) == r.isNullAt(3),
        s"native/HOF null disagreement on ${r.getSeq[Any](0)} · ${r.getSeq[Any](1)}")
      if (!r.isNullAt(2)) assert(r.getDouble(2) == r.getDouble(3))
    }
    assert(rows.count(_.isNullAt(2)) == 3, "3 malformed pairs must be NULL")
    assert(rows.count(_.isNullAt(4)) == 3, "graft_cosine shares the null contract")
  }

  test("driver-side CosineSim.eval == codegen graft_cosine, bit for bit") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(17)
    def gauss(n: Int): Seq[Any] = Seq.fill(n)(rnd.nextGaussian())
    val pairs: Seq[(Seq[Any], Seq[Any])] = Seq.fill(1000)((gauss(64), gauss(64))) ++ Seq(
      (Seq.fill(64)(0.0), gauss(64)), // zero vector: NaN
      (gauss(63), gauss(64)), // length mismatch: NULL
      (gauss(10) ++ Seq(null) ++ gauss(53), gauss(64)), // null element: NULL
      (null, gauss(64))) // null array: NULL
    val arr = ArrayType(DoubleType, containsNull = true)
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("a", arr),
      StructField("b", arr)))
    // the exchange keeps the projection out of the optimizer's local
    // relation folding, so the cosine runs in generated code
    val df = spark.createDataFrame(pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }.asJava,
      schema).repartition(2).withColumn("c", expr("graft_cosine(a, b)"))
    val conf = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val rows = try df.queryExecution.executedPlan.executeCollect()
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    object stages extends AdaptiveSparkPlanHelper
    assert(stages.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec if w.child.isInstanceOf[ProjectExec] => w }.nonEmpty,
      s"the cosine is not in generated code:\n${df.queryExecution.executedPlan}")
    assert(rows.length == pairs.length)
    // the expression as the graph search evaluates it on the driver
    val cosine = graft.functions.CosineSim(BoundReference(0, arr, nullable = true),
      BoundReference(1, arr, nullable = true))
    val byId = rows.map { r =>
      val driver = cosine.eval(InternalRow(r.get(1, arr), r.get(2, arr)))
      r.getInt(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        Option(driver).map(_.asInstanceOf[Double]))
    }.toMap
    byId.foreach { case (i, (gen, drv)) =>
      assert(gen.map(java.lang.Double.doubleToRawLongBits) == drv.map(java.lang.Double.doubleToRawLongBits),
        s"pair $i: codegen $gen, driver $drv")
    }
    assert(byId(1000)._1.exists(_.isNaN), "a zero vector scores NaN")
    assert((1001 to 1003).forall(byId(_)._1.isEmpty), "mismatch, null element and null array score NULL")
  }

  test("graft_signsketch equals the composed per-plane CASE folds bit-for-bit") {
    import org.apache.spark.sql.functions._
    val ps = ops.DedupOps.planesFor(24, 64)
    def dotPlane(p: Int): String =
      s"aggregate(zip_with(v, array(${ps(p).map(x => s"$x.0D").mkString(", ")}), (x, y) -> x * y), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    val composed = (0 until 24)
      .map(p => s"(CASE WHEN ${dotPlane(p)} > 0.0D THEN ${1L << p}L ELSE 0L END)")
      .mkString(" + ")
    val rows = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("native", expr("graft_signsketch(v, 24, 64)"))
      .withColumn("hof", expr(composed))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"sketch mismatch for vec ${r.getLong(0)}"))
    // malformed inputs collapse to sketch 0 (every plane's CASE yields 0),
    // exactly like the composed form's null-padded folds
    val edge = spark.sql(
      """SELECT graft_signsketch(a, 24, 64) AS sk FROM VALUES
        |  (array(1.0D, 2.0D)),
        |  (array(1.0D, CAST(NULL AS DOUBLE))) AS t(a)""".stripMargin).collect()
    assert(edge.forall(r => !r.isNullAt(0) && r.getLong(0) == 0L))
  }

  test("property: graft_signsketch matches a driver-side fold on random vectors, any bits/dims") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    for ((bits, dims) <- Seq((24, 64), (12, 16), (1, 3), (60, 7))) {
      val vecs = (0 until 40).map { i =>
        // negatives, zeros and an all-zero vector exercise the strict s > 0 edge
        (i.toLong, Array.fill(dims)(if (i == 0) 0.0 else rnd.nextDouble() * 2 - 1))
      }
      val ps = ops.DedupOps.planesFor(bits, dims)
      def ref(v: Array[Double]): Long = {
        var sk = 0L
        for (p <- 0 until bits) {
          var s = 0.0
          for (d <- 0 until dims) s += v(d) * ps(p)(d)
          if (s > 0.0) sk |= 1L << p
        }
        sk
      }
      val got = vecs.toDF("id", "v")
        .withColumn("sk", expr(s"graft_signsketch(v, $bits, $dims)"))
        .orderBy("id").collect().map(_.getLong(2))
      vecs.zip(got).foreach { case ((i, v), g) =>
        assert(g == ref(v), s"bits=$bits dims=$dims vec $i")
      }
      assert(got(0) == 0L, "all-zero vector: no plane is strictly positive")
    }
  }

  // --- SQL-surface safety: declared input types + builder validation ---

  test("SQL callers with non-double arrays get analyzer casts, not garbage bytes") {
    // pre-ExpectsInputTypes, array<int> reached getDouble and silently
    // reinterpreted raw int bits; now the analyzer inserts the cast
    val r = spark.sql(
      """SELECT graft_dot(array(1, 2, 3), array(4, 5, 6)) AS d,
        |       graft_cosine(array(3, 4), array(3, 4)) AS c,
        |       graft_searchsorted(5, array(1D, 3D, 7D)) AS r
        |""".stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getInt(2) == 2)
  }

  test("graft_signsketch on an int-element array equals the cast-to-double call") {
    val df = spark.sql(
      """SELECT graft_signsketch(array(1, -2, 3), 8, 3) AS a,
        |       graft_signsketch(CAST(array(1, -2, 3) AS ARRAY<DOUBLE>), 8, 3) AS b""".stripMargin)
    val r = df.head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("graft_searchsorted accepts an int-element boundary literal") {
    val r = spark.sql("SELECT graft_searchsorted(5D, array(1, 3, 7)) AS r").head()
    assert(r.getInt(0) == 2)
  }

  test("builder misuse fails resolution with the expected signature, not a ClassCastException") {
    import org.apache.spark.sql.AnalysisException
    def failsWith(sql: String, frag: String): Unit = {
      val e = intercept[AnalysisException](spark.sql(sql).head())
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    // non-foldable boundaries (a column reference)
    failsWith("SELECT graft_searchsorted(v, v2) FROM (SELECT 1D AS v, array(1D) AS v2)",
      "foldable array<numeric>")
    // unsorted boundary literal
    failsWith("SELECT graft_searchsorted(1D, array(3D, 1D))", "sorted ascending")
    // non-literal bits argument
    failsWith("SELECT graft_signsketch(array(1D), b, 1) FROM (SELECT 2 AS b)",
      "foldable integer literal")
    // wrong arity
    failsWith("SELECT graft_minhash('abc', 3)", "takes 3 arguments")
    // NULL in a string-array literal
    failsWith("SELECT graft_stopcount('a b', array('a', NULL))", "NULL elements")
  }
}

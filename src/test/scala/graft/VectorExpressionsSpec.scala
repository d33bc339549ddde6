package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorFunctions
import graft.sim.Similarity

class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("native dot/cosine match known values") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 0.0))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dotNative($"a", $"b"),
      VectorFunctions.cosineNative($"a", $"b")).collect()(0)
    assert(r.getDouble(0) === 2.0)
    assert(math.abs(r.getDouble(1) - 2.0 / 6.0) < 1e-15)
  }

  test("native cosine: zero-norm -> null, null input -> null") {
    val df = Seq(
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0))),
      (None, Some(Seq(1.0, 1.0)))).toDF("a", "b")
    val r = df.select(VectorFunctions.cosineNative($"a", $"b")).collect()
    assert(r(0).isNullAt(0) && r(1).isNullAt(0))
  }

  test("native implicitly casts float arrays and agrees with HOF formulation bit-for-bit") {
    val gen = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (Seq.fill(64)(gen.nextFloat()), Seq.fill(64)(gen.nextFloat()))
    }
    val df = rows.toDF("fa", "fb")
    val both = df.select(
      VectorFunctions.cosineNative($"fa", $"fb").as("native"),
      Similarity.cosine(Similarity.toDouble($"fa"), Similarity.toDouble($"fb")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1))) // exact equality
  }

  test("native int8 dot matches the HOF formulation and handles negatives/saturation") {
    val gen = new scala.util.Random(17)
    val rows = (0 until 40).map { _ =>
      (Seq.fill(64)((gen.nextInt(255) - 127).toByte), Seq.fill(64)((gen.nextInt(255) - 127).toByte))
    } :+ ((Seq[Byte](127, -127, 0), Seq[Byte](127, 127, 5)))
    val df = rows.toDF("qa", "qb")
    val both = df.select(
      VectorFunctions.int8DotNative($"qa", $"qb").as("native"),
      aggregate(zip_with($"qa", $"qb", (x, y) => x.cast("int") * y.cast("int")),
        lit(0L), (acc, v) => acc + v).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // the hand-pinned saturation row: 127*127 + (-127)*127 + 0*5 = 0
    assert(both.last.getLong(0) === 0L)
  }

  test("native int8 quantize matches the HOF contract bit-for-bit; maxAbs is its scale") {
    val gen = new scala.util.Random(23)
    val rows = (0 until 40).map(_ => Tuple1(Seq.fill(64)(gen.nextFloat() * 2f - 1f))) :+
      Tuple1(Seq.fill(8)(0.0f)) // zero vector -> all-zero, scale 0
    val df = rows.toDF("v")
    val both = df.select(
      VectorFunctions.int8QuantizeNative($"v").as("native"),
      Similarity.int8Array(Similarity.toDouble($"v"),
        Similarity.int8Scale(Similarity.toDouble($"v")), "tinyint").as("hof"),
      VectorFunctions.maxAbsNative($"v").as("linf"),
      Similarity.int8Scale(Similarity.toDouble($"v")).as("hofScale"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Byte](0) === r.getSeq[Byte](1))
      assert(r.getDouble(2) === r.getDouble(3))
      // saturation bound: every element in [-127, 127]; max element saturates
      val q = r.getSeq[Byte](0)
      assert(q.forall(b => b >= -127 && b <= 127))
      if (r.getDouble(2) != 0.0) assert(q.exists(b => math.abs(b.toInt) == 127))
    }
    assert(both.last.getSeq[Byte](0).forall(_ == 0.toByte))
  }

  test("native int8 quantize/maxAbs: null element nulls the result (HOF twin diverges by design)") {
    val df = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 2.0))).toDF("v")
    val r = df.select(VectorFunctions.int8QuantizeNative($"v"),
      VectorFunctions.maxAbsNative($"v")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    // the null-ELEMENT edge is the one edge where the two forms are
    // deliberately different (MaxAbs doc): array_max SKIPS null elements,
    // so the HOF scale sees 2.0 and the HOF array nulls only element 1 —
    // pin the divergence so a silent behavior change in either form fails
    val hof = df.select(
      Similarity.int8Scale($"v").as("hof_scale"),
      Similarity.int8Array($"v", Similarity.int8Scale($"v"), "tinyint").as("hof_q")).collect()(0)
    assert(hof.getDouble(0) === 2.0)
    val hofQ = hof.getSeq[java.lang.Byte](1)
    assert(hofQ(0) === 64.toByte && hofQ(1) === null && hofQ(2) === 127.toByte)
  }

  test("native int8 quantize/maxAbs: NaN and empty-array edges match the HOF contract") {
    // array_max treats NaN as greatest -> scale NaN, every quantized
    // element floors NaN whose byte cast is 0; empty array -> null scale
    val df = Seq(
      Seq(1.0, Double.NaN, -3.0),
      Seq.empty[Double]).map(Tuple1(_)).toDF("v")
    val rows = df.select(
      VectorFunctions.maxAbsNative($"v").as("native_scale"),
      Similarity.int8Scale($"v").as("hof_scale"),
      VectorFunctions.int8QuantizeNative($"v").as("native_q"),
      Similarity.int8Array($"v", Similarity.int8Scale($"v"), "tinyint").as("hof_q")).collect()
    val nan = rows(0)
    assert(nan.getDouble(0).isNaN && nan.getDouble(1).isNaN)
    assert(nan.getSeq[Byte](2) === nan.getSeq[Byte](3))
    assert(nan.getSeq[Byte](2) === Seq[Byte](0, 0, 0))
    val empty = rows(1)
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    assert(empty.getSeq[Byte](2).isEmpty && empty.getSeq[Byte](3).isEmpty)
  }

  test("bloom probe expressions: membership, counting, empty-filter all-clean") {
    import org.apache.spark.sql.graft.BloomFunctions
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(10, 0.001)
    Seq("alpha", "beta", "gamma").foreach(s =>
      bloom.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
    val bytes = bos.toByteArray
    val empty = { // zero-insert filter: every probe must come back false
      val f = org.apache.spark.util.sketch.BloomFilter.create(1, 0.001)
      val b = new java.io.ByteArrayOutputStream(); f.writeTo(b); b.toByteArray
    }
    val df = Seq(Tuple1(Seq("alpha", "delta", "gamma", "epsilon"))).toDF("gs")
    val r = df.select(
      BloomFunctions.bloomCountContained($"gs", bytes).as("cnt"),
      BloomFunctions.bloomCountContained($"gs", empty).as("cntEmpty"),
      BloomFunctions.bloomContains(element_at($"gs", 1), bytes).as("hit"),
      BloomFunctions.bloomContains(element_at($"gs", 2), bytes).as("miss")).collect()(0)
    // no false negatives: both inserted members count; at fpp=0.001 the
    // two non-members are (deterministically, fixed hash seed) clean
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 0L)
    assert(r.getBoolean(2) === true)
    assert(r.getBoolean(3) === false)
  }

  test("bloom probes with equal-content sketches compare equal (CSE/canonicalization-able)") {
    // a bare Array[Byte] field keys equality on array IDENTITY, which
    // would make two references to the same sketch permanently unequal —
    // no common-subexpression elimination, and one sketch copy shipped
    // per expression instance. ContentKeyed restores content equality;
    // distinct sketches must still compare unequal.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{BloomCountContained, BloomMightContainString, ContentKeyed}
    def sketch(b: Array[Byte]) = new ContentKeyed(b, "sketch")
    val f = org.apache.spark.util.sketch.BloomFilter.create(10, 0.001)
    f.putBinary("alpha".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bos = new java.io.ByteArrayOutputStream(); f.writeTo(bos)
    val bytes = bos.toByteArray
    val e1 = BloomMightContainString(Literal("g"), sketch(bytes.clone()))
    val e2 = BloomMightContainString(Literal("g"), sketch(bytes.clone()))
    assert(e1 === e2 && e1.hashCode === e2.hashCode && e1.semanticEquals(e2))
    val other = {
      val g = org.apache.spark.util.sketch.BloomFilter.create(10, 0.001)
      g.putBinary("beta".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b = new java.io.ByteArrayOutputStream(); g.writeTo(b)
      BloomMightContainString(Literal("g"), sketch(b.toByteArray))
    }
    assert(e1 !== other)
    val c1 = BloomCountContained(Literal.create(Seq("g")), sketch(bytes.clone()))
    val c2 = BloomCountContained(Literal.create(Seq("g")), sketch(bytes.clone()))
    assert(c1 === c2 && c1.semanticEquals(c2))
  }

  test("nearestCells matches the HOF argsort formulation incl. zero-vector and tie edges") {
    // the executable spec of the IVF cell assignment: the native
    // expression must order cells exactly like the HOF
    // array_sort(struct(-coalesce(cos, -2), cell)) formulation it
    // replaced — cos desc, cell asc on ties, zero/degenerate vectors
    // sinking every cell to the -2 sentinel (→ cells 0..nProbes-1)
    val gen = new scala.util.Random(13)
    val cents: Seq[Seq[Double]] =
      (0 until 7).map(_ => Seq.fill(16)(gen.nextDouble() - 0.5)) :+
        Seq.fill(16)(0.0) // a zero-norm CENTROID must sink, not NaN
    val rows = (0 until 40).map(_ => Tuple1(Seq.fill(16)(gen.nextDouble() - 0.5))) :+
      Tuple1(Seq.fill(16)(0.0)) :+      // zero-norm query vector
      Tuple1(cents(3))                  // exact centroid hit
    val df = rows.toDF("v")
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    val scored = zip_with(centArr, sequence(lit(0), lit(cents.length - 1)), (c, i) =>
      struct((-coalesce(VectorFunctions.cosineNative(c, $"v"), lit(-2.0))).as("neg"),
        i.as("cell")))
    val nProbes = 3
    val both = df.select(
      VectorFunctions.nearestCellsNative($"v", cents, nProbes).as("native"),
      transform(slice(array_sort(scored), 1, nProbes), s => s.getField("cell")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
    }
    // duplicated centroids tie -> lower cell id first, deterministically
    val dup = cents.updated(5, cents(1))
    val tied = df.limit(5).select(
      VectorFunctions.nearestCellsNative($"v", dup, dup.length).as("n")).collect()
    tied.foreach { r =>
      val order = r.getSeq[Int](0)
      assert(order.indexOf(1) < order.indexOf(5), s"tie must break by cell id: $order")
    }
    // the generator twin (probe-side) emits exactly the scalar's array as
    // rows, in order — one contract, two shapes. rid materializes in its
    // own select FIRST: computed beside the generator it would land above
    // the Generate and number emitted rows instead of input rows
    val based = df.select(monotonically_increasing_id().as("rid"), $"v")
    val scalarRows = based.select($"rid",
        VectorFunctions.nearestCellsNative($"v", cents, nProbes).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val genRows = based.select($"rid",
        org.apache.spark.sql.graft.VectorFunctions
          .nearestCellsGenNative($"v", cents, nProbes).as("cell"))
      .collect().groupBy(_.getLong(0))
      .map { case (rid, rs) => rid -> rs.map(_.getInt(1)).toSeq }
    assert(genRows === scalarRows)
  }

  test("srpBuckets generator matches the per-table scalar srp_bucket formulation") {
    // the executable seed contract of the multi-table generator: table t's
    // bucket must equal srp_bucket(v, planes, 42 + 7919*t) — a regression
    // in the seed spacing or table indexing would still produce 12
    // distinct tables (recall floor blind) but silently rewrite every
    // registered s2/s7 bucket assignment
    val gen = new scala.util.Random(23)
    val rows = (0L until 30L).map(i => (i, Seq.fill(16)(gen.nextDouble() - 0.5)))
    val df = rows.toDF("id", "v")
    val nPlanes = 5
    val nTables = 7
    val viaGen = df.select(col("id"),
        org.apache.spark.sql.graft.VectorFunctions
          .srpBucketsNative($"v", nPlanes, nTables).as(Seq("t", "b")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaScalar = (0 until nTables).flatMap { t =>
      df.select(col("id"),
          graft.sim.Similarity.srpBucket($"v", nPlanes, seed = 42 + 7919 * t))
        .collect().map(r => (r.getLong(0), t) -> r.getLong(1))
    }.toMap
    assert(viaGen.size === 30 * nTables)
    assert(viaGen === viaScalar)
    // a null vector emits no rows (it can never match any bucket)
    val withNull = Seq((1L, Some(Seq(1.0, 2.0))), (2L, None)).toDF("id", "v")
    val out = withNull.select(col("id"),
      org.apache.spark.sql.graft.VectorFunctions
        .srpBucketsNative($"v", 4, 3).as(Seq("t", "b"))).collect()
    assert(out.map(_.getLong(0)).distinct.toSeq === Seq(1L))
  }

  test("custom generators: same rows with codegen on and off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(31)
    val vecs: Seq[Seq[Any]] = (0 until 40).map(_ => Seq.fill(4)(rnd.nextGaussian())) ++ Seq(
      null, Seq.empty, Seq(1.0, 2.0), Seq.fill(4)(0.0), Seq.fill(4)(Double.NaN),
      Seq(Double.NaN, 1.0, 0.0, 2.0), Seq(Double.PositiveInfinity, 1.0, 0.0, -1.0),
      Seq(1.0, null, 2.0, 3.0))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) => Row(i, v) }, 3), schema)
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 1.0), Seq(-1.0, -1.0, 0.0, 0.0))
    // off = no whole-stage codegen and interpreted expression evaluation
    def rows(codegen: Boolean): Seq[Seq[String]] = {
      val confs = Map("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
      val prev = confs.keys.map(k => k -> spark.conf.get(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try Seq(
        df.select($"id", VectorFunctions.srpBucketsNative($"v", 8, 3)),
        df.select($"id", VectorFunctions.nearestCellsGenNative($"v", cents, 2)))
        .map(_.collect().map(_.toString).toSeq.sorted)
      finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val on = rows(codegen = true)
    assert(on === rows(codegen = false))
    // a null vector emits nothing; every other one nTables / nProbes rows
    assert(on.map(_.size) === Seq(3, 2).map(_ * vecs.count(_ != null)))
  }

  test("native expression participates in whole-stage codegen") {
    // literal input constant-folds to a LocalTableScan; use range so a
    // real projection stage exists
    val df = spark.range(8).select(
      array($"id".cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), $"id".cast("double")).as("b"))
    val exec = df.select(VectorFunctions.cosineNative($"a", $"b"))
      .queryExecution.executedPlan
    assert(exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
  }

  test("SQL surface: graft_cosine/graft_dot callable after registration") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) d, " +
      "graft_dot_int8(array(127Y, -2Y), array(127Y, 3Y)) q, " +
      "graft_srp_bucket(array(0.5d, -1.5d, 2.0d), 8, 42) b, " +
      "graft_int8_quantize(array(0.5d, -1.0d)) q8, " +
      "graft_linf(array(0.5d, -1.0d)) li").collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getLong(2) === 16129L - 6L)
    assert(r.getLong(3) >= 0L && r.getLong(3) < 256L)
    assert(r.getSeq[Byte](4) === Seq[Byte](64, -127))
    assert(r.getDouble(5) === 1.0)
  }

  test("SQL surface: text-signature functions callable after registration") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_simhash(array('a','b')) sh, " +
      "size(graft_minhash(graft_word_shingles('a b c d', 2), 8)) ksig, " +
      "graft_word_shingles('a b c', 2) ws, " +
      "graft_char_shingles('abc', 2) cs").collect()(0)
    assert(r.getSeq[String](2) === Seq("a b", "b c"))
    assert(r.getSeq[String](3) === Seq("ab", "bc"))
    assert(r.getInt(1) === 8)
  }

  test("SQL surface: graft_lsh_bands and graft_winnow callable after registration") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT size(graft_lsh_bands(graft_word_shingles('a b c d e', 2), 4, 2)) nb, " +
      "size(graft_winnow('abcdefghijklmnop', 4, 3)) nw").collect()(0)
    assert(r.getInt(0) === 4)  // one bucket per band
    assert(r.getInt(1) > 0)    // non-empty fingerprint set
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.operators.KMeans

/** Direct semantics tests for the round-6 codegen kernels (ScaleVec,
  * NearestCentroid, CosineSim, SumLongArray, IvfRep): each must agree
  * exactly with the composable Spark form (or a driver-side reference) it
  * replaced, and reject contract-violating input loudly instead of
  * fabricating zeros. */
class ExprKernelsSpec extends GraftSuite {

  test("scale_vec matches SQL round(x*1e6) on a sign/rounding-edge grid, float and double") {
    import spark.implicits._
    val vals = Seq(0.0, 1.0, -1.0, 0.1234567, -0.1234567, 0.0000005,
      -0.0000005, 0.0000015, -0.0000015, 123.456789, -123.456789,
      0.9999995, -0.9999995, 1.5e-7)
    val df = Seq((1L, vals.map(_.toFloat))).toDF("id", "vf")
      .withColumn("vd", col("vf").cast("array<double>"))
    // The composed form the kernel replaced — still the value contract.
    def composed(c: String) = transform(col(c),
      x => round(x.cast("double") * lit(1e6)).cast("long"))
    val r = df.select(
      gf.scale_vec(col("vf")).as("kf"), composed("vf").as("cf"),
      gf.scale_vec(col("vd")).as("kd"), composed("vd").as("cd")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1), "float path")
    assert(r.getSeq[Long](2) == r.getSeq[Long](3), "double path")
    // Driver twin agrees too (the seed-collect path) — on the values the
    // column actually holds (vd is the float column widened, so the
    // reference must degrade through float the same way).
    assert(r.getSeq[Long](2) == vals.map(v => KMeans.scaleValue(v.toFloat.toDouble)))
  }

  test("nearest_centroid equals the composed argmin-struct form, including distance ties") {
    import spark.implicits._
    val cents = Seq(
      (10L, Array(0L, 0L)), (20L, Array(1000000L, 0L)), (30L, Array(0L, 1000000L)))
    // Includes a point equidistant from cids 20 and 30 (tie -> smaller cid).
    val pts = Seq(
      Seq(0L, 0L), Seq(900000L, 0L), Seq(0L, 900000L), Seq(500000L, 500000L),
      Seq(-200000L, 100000L), Seq(1000000L, 1000000L))
      .map(Tuple1(_)).toDF("v")
    val composed = array_min(array(cents.map { case (cid, cv) =>
      struct(
        aggregate(zip_with(col("v"), array(cv.toIndexedSeq.map(lit(_)): _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, d) => a + d).as("d"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")
    val rows = pts.select(gf.nearest_centroid(col("v"), cents).as("k"),
      composed.as("c")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("cosine_sim equals the driver-side double-precision reference") {
    import spark.implicits._
    val q = Array(0.5, -1.25, 3.0, 0.125)
    val qn = math.sqrt(q.map(x => x * x).sum)
    val vecs = Seq(
      Seq(1f, 2f, 3f, 4f), Seq(-0.5f, 0.25f, 0f, 8f), Seq(0.1f, 0.1f, 0.1f, 0.1f))
    val got = vecs.map(Tuple1(_)).toDF("v")
      .select(gf.cosine_sim(col("v"), q, qn)).collect().map(_.getDouble(0))
    val want = vecs.map { v =>
      val d = v.map(_.toDouble)
      d.zip(q).map { case (x, y) => x * y }.sum /
        (math.sqrt(d.map(x => x * x).sum) * qn)
    }
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("cosine kernels: codegen equals interpreted for NaN, +Inf and 0.0 query norms") {
    // An isolated session so the conf below stays within this test. With
    // codegen fallback off, generated Java that fails to compile throws
    // instead of silently running interpreted.
    def run(codegen: Boolean): Seq[Long] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.fallback", "false")
      s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      s.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      import s.implicits._
      val q = Array(0.5, -1.25, 3.0, 0.125)
      // An RDD source, not a local relation: the optimizer would otherwise
      // evaluate the projection itself and no Java would be generated.
      val df = s.sparkContext.parallelize(Seq(Seq(1f, 2f, 3f, 4f), Seq(-0.5f, 0.25f, 0f, 8f)), 1)
        .toDF("v")
      Seq(Double.NaN, Double.PositiveInfinity, 0.0).flatMap { qn =>
        df.select(gf.cosine_sim(col("v"), q, qn), gf.cosine_sim_lit(col("v"), q, qn))
          .collect().flatMap(r => Seq(r.getDouble(0), r.getDouble(1)))
      }.map(java.lang.Double.doubleToLongBits)
    }
    val (cg, interp) = (run(codegen = true), run(codegen = false))
    assert(cg.size == 12)
    assert(cg == interp)
  }

  test("sum_long_array equals posexplode sums under grouping; all-null group is null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1L, 2L, 3L)), (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(-5L, 0L, 5L)), (2L, Seq(7L, 7L, 7L)), (2L, Seq(1L, 1L, 1L)))
      .toDF("g", "v")
    val kernel = df.groupBy("g").agg(gf.sum_long_array(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exploded = df.select(col("g"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("g", "p").agg(sum("x").as("s")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(kernel == exploded)
    val nul = Seq((1L, null.asInstanceOf[Seq[Long]])).toDF("g", "v")
      .groupBy("g").agg(gf.sum_long_array(col("v")).as("s")).head()
    assert(nul.isNullAt(1), "an all-null group sums to null (SUM semantics)")
  }

  test("kernels reject null vector ELEMENTS loudly instead of reading them as 0") {
    import spark.implicits._
    val bad = Seq(Tuple1(Seq[java.lang.Float](1f, null, 3f))).toDF("v")
    val e = intercept[Exception] {
      bad.select(gf.scale_vec(col("v"))).collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    assert(rootMsg(e).contains("dense"), rootMsg(e))
    val e2 = intercept[Exception] {
      bad.select(gf.cosine_sim(col("v"), Array(1.0, 1.0, 1.0), 1.0)).collect()
    }
    assert(rootMsg(e2).contains("dense"), rootMsg(e2))
  }

  test("ivf_rep routes every (bucket, salt) into the bucket's contiguous partition block") {
    import spark.implicits._
    val cids = Array(5L, 9L, 42L)
    val sub = Map(5L -> 2, 9L -> 1, 42L -> 3)
    val ms = cids.map(sub)
    val offsets = ms.scanLeft(0)(_ + _)
    val total = offsets.last
    val reps = graft.jobs.Cluster.partitionReps(total)
    val rows = (1L to 500L).map(i => (i, cids((i % 3).toInt)))
    val routed = rows.toDF("salt", "bucket")
      .withColumn("__rep", gf.ivf_rep(col("bucket"), col("salt"), cids, offsets, reps))
      .repartition(total, col("__rep"))
      .select(col("bucket"), spark_partition_id().as("pid"))
      .collect()
    routed.foreach { r =>
      val bi = cids.indexOf(r.getLong(0))
      val pid = r.getInt(1)
      assert(pid >= offsets(bi) && pid < offsets(bi + 1),
        s"bucket ${r.getLong(0)} landed at partition $pid outside its block " +
          s"[${offsets(bi)}, ${offsets(bi + 1)})")
    }
    // The salted split actually uses >1 partition for a multi-sub-bucket
    // bucket (500 salts over 2-3 sub-buckets cannot all collide).
    val pidsPerBucket = routed.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getInt(1)).distinct.size).toMap
    assert(pidsPerBucket(5L) == 2 && pidsPerBucket(42L) == 3 && pidsPerBucket(9L) == 1,
      s"sub-bucket spread: $pidsPerBucket")
  }

  // ------------------------------------------------------- round-7 kernels

  /** Deterministic pseudo-random vectors (no fixture dependency). */
  private def pseudoVecs(n: Int, dims: Int): Seq[(Long, Seq[Float])] =
    (1 to n).map { i =>
      (i.toLong, (0 until dims).map(d =>
        (((i * 31 + d * 17) % 97) - 48) / 13.0f))
    }

  test("cosine_sim_ff is bit-identical to the composed zip_with/aggregate cosine (float and double)") {
    import spark.implicits._
    val df = pseudoVecs(64, 33).toDF("id", "vf")
      .withColumn("vd", col("vf").cast("array<double>"))
    // Pair each row with a shifted copy of itself so both sides are columns.
    val a = df.select(col("id"), col("vf").as("af"), col("vd").as("ad"))
    val b = df.select((col("id") - 1).as("id"), col("vf").as("bf"), col("vd").as("bd"))
    def composed(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v) /
        (sqrt(aggregate(x, lit(0.0d), (acc, v) => acc + v * v)) *
         sqrt(aggregate(y, lit(0.0d), (acc, v) => acc + v * v)))
    val rows = a.join(b, "id")
      .select(
        gf.cosine_sim_ff(col("af"), col("bf")).as("kf"),
        composed(col("af"), col("bf")).as("cf"),
        gf.cosine_sim_ff(col("ad"), col("bd")).as("kd"),
        composed(col("ad"), col("bd")).as("cd"))
      .collect()
    assert(rows.length == 63)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"float path: kernel ${r.getDouble(0)} != composed ${r.getDouble(1)}")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"double path: kernel ${r.getDouble(2)} != composed ${r.getDouble(3)}")
    }
  }

  test("cosine_sim_lit is bit-identical to the composed literal-vector cosine (q34's cosLit)") {
    import spark.implicits._
    val dims = 29
    val cv: Array[Double] = (0 until dims).map(d => ((d * 7) % 19 - 9) / 7.0).toArray
    val qNorm = math.sqrt(cv.map(x => x * x).sum)
    val df = pseudoVecs(64, dims).toDF("id", "vf")
    val arr = array(cv.toIndexedSeq.map(x => lit(x)): _*)
    val composed =
      aggregate(zip_with(col("vf"), arr, (x, y) => x * y), lit(0.0d), (a, x) => a + x) /
        (sqrt(aggregate(col("vf"), lit(0.0d), (a, x) => a + x * x)) * lit(qNorm))
    val rows = df.select(
      gf.cosine_sim_lit(col("vf"), cv, qNorm).as("k"), composed.as("c")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"kernel ${r.getDouble(0)} != composed ${r.getDouble(1)}")
    }
  }

  test("count_in equals size(filter(arr, isin)) including null elements and null arrays") {
    import spark.implicits._
    val terms = Seq("the", "a", "to", "of")
    val rows: Seq[Option[Seq[Option[String]]]] = Seq(
      Some(Seq(Some("the"), Some("fox"), Some("a"), Some("the"))), // dups count
      Some(Seq(Some("x"), None, Some("of"))),                      // null element
      Some(Seq.empty[Option[String]]),                             // empty array
      None)                                                        // null array
    val df = rows.map(Tuple1(_)).toDF("ws")
    val composed = size(filter(col("ws"), w => w.isin(terms.map(lit(_)): _*)))
    val got = df.select(gf.count_in(col("ws"), terms).as("k"), composed.as("c"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity: $r")
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), s"count: $r")
    }
    assert(got(0).getInt(0) == 3 && got(1).getInt(0) == 1 &&
      got(2).getInt(0) == 0 && got(3).isNullAt(0))
  }

  test("minhash_hex equals the explode+groupBy min(md5) formulation") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "", "Zz")
    val docs = ((1 to 30).map { i =>
      val n = 1 + (i * 11) % 25
      (i.toLong, (0 until n).map(j => words((i * 5 + j * 3) % words.size)).mkString(" "))
    } ++ Seq((101L, ""), (102L, "solo"))).toDF("doc_id", "text")
    val composed = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy(col("doc_id"))
      .agg(min(md5(concat(col("w"), lit("0")))).as("mh0"),
        min(md5(concat(col("w"), lit("1")))).as("mh1"),
        min(md5(concat(col("w"), lit("2")))).as("mh2"),
        min(md5(concat(col("w"), lit("3")))).as("mh3"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    val kernel = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), gf.minhash_hex(col("text"), 4).as("m"))
      .select(col("doc_id"), col("m.mh0"), col("m.mh1"), col("m.mh2"), col("m.mh3"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(kernel.keySet == composed.keySet)
    kernel.foreach { case (id, k) =>
      assert(k == composed(id), s"doc $id: $k != ${composed(id)}")
    }
  }

  test("md5_parity_vec equals the per-bit ascii(substring(md5)) parity terms") {
    import spark.implicits._
    val df = Seq("alpha", "beta", "", "Zz9", "the quick", "ümlaut")
      .map(Tuple1(_)).toDF("w").withColumn("h", md5(col("w")))
    val composedCols = (0 until 16).map(b =>
      when(ascii(substring(col("h"), b + 1, 1)) % 2 === 1, 1).otherwise(-1)
        .as(s"c$b"))
    val rows = df.select(
      (gf.md5_parity_vec(col("w"), 16).as("pv") +: composedCols): _*).collect()
    rows.foreach { r =>
      val pv = r.getSeq[Int](0)
      (0 until 16).foreach(b =>
        assert(pv(b) == r.getInt(b + 1), s"bit $b of ${r}"))
    }
  }

  test("nearest_cosine_cid equals the rounded-cosine struct-max form, incl. -0.0/+0.0 ties") {
    import spark.implicits._
    val dims = 17
    val cents: Seq[(Long, Array[Double])] = (1L to 5L).map { c =>
      (c, (0 until dims).map(d => ((c * 13 + d * 7) % 21 - 10) / 9.0).toArray)
    }
    // Pseudo vectors plus near-orthogonal rows whose rounded sims land on
    // +-0.0 for some centroids (the tie case where Double.compare and
    // Spark's nan-safe ordering disagree).
    val base = pseudoVecs(48, dims).map(_._2)
    val tiny = (1 to 16).map(i => (0 until dims).map(d =>
      (if ((i + d) % 2 == 0) 1e-9f else -1e-9f) * ((d % 3) + 1)))
    val df = (base ++ tiny).map(Tuple1(_)).toDF("vf")
    def cosLit(cv: Array[Double]) = round(
      gf.cosine_sim_lit(col("vf"), cv, math.sqrt(cv.map(x => x * x).sum)), 6)
    val composed = -array_max(array(cents.toIndexedSeq.map { case (cid, cv) =>
      struct(cosLit(cv).as("sim"), lit(-cid).as("ncid"))
    }: _*)).getField("ncid")
    val withNorm = cents.map { case (cid, cv) =>
      (cid, cv, math.sqrt(cv.map(x => x * x).sum)) }
    val rows = df.select(
      gf.nearest_cosine_cid(col("vf"), withNorm, 6).as("k"),
      composed.as("c")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("canon_text equals md5(concat_ws(array_sort(array_distinct(split)))) incl. null text") {
    import spark.implicits._
    val texts: Seq[Option[String]] = Seq(
      Some("the quick the fox a  a"), // dup words + empty token (double space)
      Some(""), Some("z y x w"), Some("one"), None,
      Some("café über z 😀 a")) // non-ASCII + supplementary plane
    val df = texts.map(Tuple1(_)).toDF("text")
    val composed = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), " ")))))
    val kernel = md5(coalesce(gf.canon_text(col("text")), lit("")))
    df.select(kernel.as("k"), composed.as("c")).collect().foreach { r =>
      assert(r.getString(0) == r.getString(1), s"$r")
    }
  }

  test("winnow_fp equals the window-function winnowing formulation, including edge docs") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val words = Vector("the", "quick", "fox", "jumps", "over", "lazy", "dog",
      "a", "b", "repeated", "")
    // Deterministic docs incl. degenerate shapes: empty text, 1 and 2
    // tokens (no shingles -> absent), double spaces (empty tokens), heavy
    // repetition (distinct-fp collapse).
    val docs = ((1 to 40).map { i =>
      val n = 1 + (i * 13) % 40
      (i.toLong, (0 until n).map(j => words((i * 7 + j * 5) % words.size)).mkString(" "))
    } ++ Seq((101L, ""), (102L, "one"), (103L, "two words"),
      (104L, "three word doc"), (105L, "x x x x x x x x"))).toDF("doc_id", "text")
    // The replaced window-function formulation, verbatim.
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val winnow = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, 3)
    val windowed = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("sh", concat(col("w"), lit(" "),
        lead(col("w"), 1).over(byDoc), lit(" "), lead(col("w"), 2).over(byDoc)))
      .filter(col("sh").isNotNull)
      .withColumn("fp", min(md5(col("sh"))).over(winnow))
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("fp_min"),
        max(col("fp")).as("fp_max"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
      .toMap
    val kernel = docs
      .select(col("doc_id"), gf.winnow_fp(col("text"), shingle = 3, window = 4).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("w.n_fp"), col("w.fp_min"), col("w.fp_max"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
      .toMap
    assert(kernel.keySet == windowed.keySet,
      s"doc presence differs: kernel-only ${kernel.keySet -- windowed.keySet}, " +
        s"window-only ${windowed.keySet -- kernel.keySet}")
    assert(!kernel.contains(102L) && !kernel.contains(103L),
      "docs with < 3 tokens must be absent")
    kernel.foreach { case (id, k) =>
      assert(k == windowed(id), s"doc $id: kernel $k != windowed ${windowed(id)}")
    }
  }
}

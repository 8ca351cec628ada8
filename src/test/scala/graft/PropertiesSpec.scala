package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.VectorFunctions._
import graft.operators.MinHashDedup

/** Property-based invariants (SURVEY §5: the property-test layer the
  * reference lacks). Raw ScalaCheck generators sampled with fixed
  * seeds — deterministic across runs. */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  val vecGen: Gen[List[Float]] =
    Gen.chooseNum(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10.0f, 10.0f)))

  test("property: repetition kernel matches a brute-force recount on any text") {
    val textGen: Gen[String] = for {
      n <- Gen.chooseNum(0, 30)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "A", "", "x y"))
    } yield toks.mkString(" ")
    val texts = samples(textGen, 60).distinct
    def brute(t: String): Option[(Long, Int, Long)] = {
      val w = t.toLowerCase.split(" ", -1)
      val grams = w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (w.length < 2) None
      else {
        val counts = grams.groupBy(identity).map { case (_, g) => g.size }
        Some((counts.filter(_ > 1).map(_.toLong).sum, counts.size, grams.size.toLong))
      }
    }
    val rows = texts.toDF("t")
      .select(col("t"), graft.functions.TextFunctions.repetitionStats(col("t")).as("st"))
      .collect()
    rows.foreach { r =>
      val expected = brute(r.getString(0))
      val got =
        if (r.isNullAt(1)) None
        else Some((r.getStruct(1).getLong(0), r.getStruct(1).getInt(1), r.getStruct(1).getLong(2)))
      assert(got == expected, s"text='${r.getString(0)}'")
    }
  }

  test("property: quantize∘dequantize error ≤ scale/2 for any vector") {
    // batch all sampled vectors through one plan: stays a single job
    val vs = samples(vecGen, 20)
    val df = vs.map(Tuple1(_)).toDF("v")
    df.select(
        quantScale(col("v")).as("s"),
        aggregate(zip_with(
          dequantizeInt8(quantizeInt8(col("v")), quantScale(col("v"))),
          vecToDouble(col("v")), (a, b) => abs(a - b)),
          lit(0.0), (m, e) => greatest(m, e)).as("err"))
      .collect().foreach { r =>
        assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-9)
      }
  }

  test("property: asymmetric uint8 round-trip error ≤ scale/2 (interior codes)") {
    // clipping can only bite at the extremes, and the min-max range
    // covers the data by construction, so error is bounded by half a
    // quantization step plus the zero-point truncation (≤ 1 step).
    // Constant vectors are excluded: min==max is a zero range, where
    // the reference's scale divides by zero (our guard keeps it
    // finite but the bound is meaningless).
    val vs = samples(vecGen, 20).filter(v => v.max > v.min)
    val df = vs.map(Tuple1(_)).toDF("v")
    df.select(
        quantScaleAsym(col("v")).as("s"),
        aggregate(zip_with(
          dequantizeAsym(quantizeUint8Asym(col("v")),
            quantScaleAsym(col("v")), quantZeroPointAsym(col("v"))),
          vecToDouble(col("v")), (a, b) => abs(a - b)),
          lit(0.0), (m, e) => greatest(m, e)).as("err"))
      .collect().foreach { r =>
        // pre-clip codes lie in (−1, 255]; the only clip is the
        // bottom-edge round-to-−1 case, bounding error by ONE step
        // (scale/2 everywhere else)
        assert(r.getDouble(1) <= r.getDouble(0) + 1e-9)
      }
  }

  test("property: int4 pack/unpack is the identity on even-length code arrays") {
    val vs = samples(vecGen, 20).map(v => if (v.length % 2 == 0) v else v :+ 0.0f)
    val df = vs.map(Tuple1(_)).toDF("v")
    df.select(
        quantizeInt4Asym(col("v")).as("q4"),
        unpackInt4(packInt4(quantizeInt4Asym(col("v")))).as("rt"))
      .collect().foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1))
      }
  }

  test("property: softmax sums to 1 and preserves argmax") {
    val vs = samples(vecGen, 20)
    val rows = vs.map(Tuple1(_)).toDF("v")
      .select(col("v"), vecSoftmax(col("v")).as("s")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val sm = r.getSeq[Double](1)
      assert(math.abs(sm.sum - 1.0) < 1e-9)
      assert(sm.indexOf(sm.max) == v.indexOf(v.max))
    }
  }

  test("property: delta-encode then prefix-sum-decode is the identity (delta codec)") {
    val seriesGen = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    samples(seriesGen, 10).foreach { xs =>
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("pos", "x")
      val w = org.apache.spark.sql.expressions.Window.orderBy("pos")
      val decoded = df
        .withColumn("delta", col("x") - lag(col("x"), 1, 0L).over(w))
        .withColumn("decoded", sum(col("delta")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .orderBy("pos").collect()
      decoded.foreach(r => assert(r.getAs[Long]("decoded") == r.getAs[Long]("x")))
    }
  }

  test("property: exact dedup clusters account for every duplicate") {
    val textGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma")).map(_.mkString(" ")))
    samples(Gen.listOfN(8, textGen), 8).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val clusters = MinHashDedup.exactDupClusters(docs, "doc_id", "text").collect()
      val dupClusters = texts.groupBy(identity).count(_._2.size > 1)
      assert(clusters.length == dupClusters)
      assert(texts.distinct.size + clusters.map(_.getAs[Long]("n_docs") - 1).sum == texts.size)
    }
  }

  test("property: minhash estimate is 1 for identical docs, regardless of text") {
    val textGen = Gen.chooseNum(3, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    samples(textGen, 5).foreach { t =>
      val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      val pairs = MinHashDedup.candidatePairs(docs, "doc_id", "text",
        shingleK = 2, bands = 4, rowsPerBand = 2, threshold = 0.0).collect()
      assert(pairs.length == 1 && pairs.head.getAs[Double]("est_jaccard") == 1.0)
    }
  }

  test("property: wordpiece with the default vocab reconstructs every word") {
    import graft.functions.TextFunctions
    // random printable-ASCII words: pieces stripped of '##' must
    // concatenate back to the exact word stream (total coverage, no
    // [UNK], no dropped characters)
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(33, 126).map(_.toChar)).map(_.mkString))
    val textGen = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val texts = samples(textGen, 20)
    val rows = texts.map(Tuple1(_)).toDF("t")
      .select(col("t"), TextFunctions.wordpieceTokenize(col("t")).as("p"))
      .collect()
    rows.foreach { r =>
      val joined = r.getSeq[String](1).map(_.stripPrefix("##")).mkString
      val expected = r.getString(0).split("\\s+").filter(_.nonEmpty).mkString
      assert(joined == expected, s"text '${r.getString(0)}'")
      assert(!r.getSeq[String](1).contains("[UNK]"))
    }
  }

  test("property: codegen vector kernels match plain-Scala math on random vectors") {
    val vs = samples(vecGen, 25)
    val df = vs.map(Tuple1(_)).toDF("v")
    val rows = df.select(col("v"),
        vecGelu(col("v")).as("g"), vecSilu(col("v")).as("si"),
        vecLayerNorm(col("v")).as("ln"), vecSoftmax(col("v")).as("sm"),
        vecSum(col("v")).as("s")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble)
      def close(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }
      assert(close(r.getSeq[Double](1), v.map(x =>
        0.5 * x * (1 + math.tanh(0.7978845608028654 * (x + 0.044715 * x * x * x))))))
      assert(close(r.getSeq[Double](2), v.map(x => x / (1 + math.exp(-x)))))
      val mu = v.sum / v.size
      val sd = math.sqrt(v.map(x => x * x).sum / v.size - mu * mu + 1e-5)
      assert(close(r.getSeq[Double](3), v.map(x => (x - mu) / sd)))
      val mx = v.max
      val ex = v.map(x => math.exp(x - mx))
      assert(close(r.getSeq[Double](4), ex.map(_ / ex.sum)))
      assert(math.abs(r.getDouble(5) - v.sum) < 1e-6)
    }
  }

  test("property: glog zone-map names round-trip any double bounds exactly") {
    import graft.sources.GraftLogSource
    val dGen: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-1e9, 1e9),
      Gen.oneOf(0.0, -0.0, 1e-300, -1e-300, 1e300, -1e300,
        Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue))
    val pairs = samples(Gen.zip(dGen, dGen), 200)
    pairs.foreach { case (a, b) =>
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      val name = GraftLogSource.fileName(12, mn, mx)
      assert(GraftLogSource.minMaxFromName(name).contains((mn, mx)), name)
      // zone-map soundness: a point query for any v inside [mn,mx]
      // must keep the file
      import org.apache.spark.sql.sources.EqualTo
      Seq(mn, mx, mn / 2 + mx / 2).filter(v => v >= mn && v <= mx).foreach { v =>
        assert(GraftLogSource.zoneMapKeeps(mn, mx, Seq(EqualTo("value", v))))
      }
    }
  }

  test("property: glog line format round-trips arbitrary rows through write+read") {
    import graft.sources.GraftLogSource
    val rowGen = for {
      id <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      us <- Gen.chooseNum(0L, 4102444800000000L)
      uid <- Gen.chooseNum(0L, 1L << 40)
      et <- Gen.oneOf("click", "view", "a b", "ünïcode", "")
      v <- Gen.oneOf(Gen.chooseNum(-1e12, 1e12),
        Gen.oneOf(0.0, 1e-300, 123.456, 1e17 + 1))
      props <- Gen.oneOf("""{"k": 1}""", "", "x,y|z", "quote\"inside", "héllo")
    } yield (id, us, uid, et, v, props)
    val rows = samples(rowGen, 120)
    val dir = java.nio.file.Files.createTempDirectory("graft_glog_prop").toFile
    import spark.implicits._
    val df = rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    df.write.format("glog").option("path", dir.getAbsolutePath)
      .mode("overwrite").save()
    val back = spark.read.format("glog").option("path", dir.getAbsolutePath)
      .load()
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().map(_.toSeq).toSet
    val expected = rows.map { case (id, us, uid, et, v, p) =>
      Seq(id, us, uid, et, v, p)
    }.toSet
    assert(back == expected)
    // committed files carry sound zone maps for their own content
    dir.listFiles().filter(_.getName.endsWith(".glog")).foreach { f =>
      val (mn, mx) = GraftLogSource.minMaxFromName(f.getName).get
      val vals = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String])
        .map(_.split("\t", 6)(4).toDouble)
      assert(vals.forall(v => v >= mn && v <= mx), f.getName)
    }
  }

  test("property: small queries return the same rows with the small-query route on and off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // duplicate keys, nulls and one heavy key; `id` is unique, so every
    // window and the global sort have a total order
    val keyGen: Gen[Option[Int]] = Gen.frequency(
      4 -> Gen.const(Some(7)), 4 -> Gen.chooseNum(0, 5).map(Some(_)), 1 -> Gen.const(None))
    val rowGen = for {
      k <- keyGen
      g <- Gen.option(Gen.oneOf("a", "b", "c"))
      x <- Gen.option(Gen.chooseNum(-1000L, 1000L))
      ts <- Gen.chooseNum(0L, 20L)
    } yield (k, g, x, ts)
    // 0 files (an empty directory read with the schema), 1 file or several
    val inputGen = for {
      files <- Gen.oneOf(0, 1, 1, 3, 5)
      n <- if (files == 0) Gen.const(0) else Gen.chooseNum(files, 80)
      rows <- Gen.listOfN(n, rowGen)
    } yield (files, rows)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("k", IntegerType), StructField("g", StringType),
      StructField("x", LongType), StructField("ts", LongType, nullable = false)))
    val queries = Seq(
      "SELECT k, count(*), sum(x), min(g), max(x), count(DISTINCT g) FROM t GROUP BY k",
      "SELECT k, g, count(*), sum(x), grouping_id() FROM t GROUP BY ROLLUP(k, g)",
      "SELECT k, g, count(x), max(ts) FROM t GROUP BY GROUPING SETS ((k), (g), ())",
      "SELECT DISTINCT k, g FROM t",
      """SELECT id, k, sum(x) OVER (PARTITION BY k ORDER BY ts, id),
        |  row_number() OVER (PARTITION BY k ORDER BY ts, id),
        |  lag(g) OVER (PARTITION BY g ORDER BY id) FROM t""".stripMargin,
      "SELECT id, k, x FROM t ORDER BY x NULLS FIRST, ts DESC, id",
      // the as-of shape of qj10: a UNION ALL under a running window
      """SELECT k, id, side, last_value(x, true) OVER (PARTITION BY k ORDER BY ts, side, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof
        |FROM (SELECT k, id, ts, 1 AS side, CAST(NULL AS BIGINT) AS x FROM t
        |      UNION ALL SELECT k, id, ts, 0 AS side, x FROM t WHERE x IS NOT NULL)""".stripMargin)
    def routed(df: org.apache.spark.sql.DataFrame): Boolean = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => TestSpark.exchanges(a).isEmpty
      case _ => false
    }
    samples(inputGen, 10).zipWithIndex.foreach { case ((files, rows), i) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_route_prop").toFile
      try {
        val data = rows.zipWithIndex.map { case ((k, g, x, ts), id) =>
          Row(id.toLong, k.map(Int.box).orNull, g.orNull, x.map(Long.box).orNull, ts) }
        if (files > 0)
          spark.createDataFrame(java.util.Arrays.asList(data: _*), schema).repartition(files)
            .write.mode("overwrite").parquet(dir.getPath)
        spark.read.schema(schema).parquet(dir.getPath).createOrReplaceTempView("t")
        queries.foreach { sql =>
          val (on, onRouted) =
            TestSpark.withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m") {
              val df = spark.sql(sql)
              (df.collect().map(_.toString).toSeq, routed(df))
            }
          assert(onRouted, s"route did not apply to sample $i ($files files, ${rows.size} rows): $sql")
          // coalescing off is the one gate that also turns the route off
          // for an empty input
          val off = TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
            spark.sql(sql).collect().map(_.toString).toSeq)
          assert(on.sorted == off.sorted, s"sample $i ($files files, ${rows.size} rows): $sql")
          if (sql.contains("ORDER BY x")) assert(on == off, s"sample $i: sort order")
        }
      } finally {
        spark.catalog.dropTempView("t")
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
      }
    }
  }
}

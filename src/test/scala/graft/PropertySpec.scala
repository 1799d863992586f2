package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.ops.{Clean, Model}

/** Property-based invariants (SURVEY §5.2) driven by ScalaCheck
  * generators (sampled directly — the scalatest bridge artifact is not
  * in the offline cache): cleaning idempotence and uniqueness, modeling
  * arithmetic identities, date-dim structure, permutation-invariance of
  * the stable sum, and native-expression equivalence.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("normalizeName is idempotent and always snake_case") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val once = Clean.normalizeName(s)
      assert(Clean.normalizeName(once) == once, s"input: ${s.take(40)}")
      assert(once.isEmpty ||
        graft.schema.Contracts.SnakeCase.pattern.matcher(once).matches(),
        s"not snake_case: $once")
    }
  }

  test("dedupKeepFirst leaves primary keys unique and is idempotent") {
    samples(Gen.nonEmptyListOf(Gen.choose(1, 20)), 5).foreach { keys =>
      val df = keys.zipWithIndex.toDF("pk", "ord")
      val once = Clean.dedupKeepFirst(df, Seq("pk"), col("ord")).cache()
      val maxCount = once.groupBy("pk").count().agg(max("count")).as[Long].head()
      assert(maxCount == 1L)
      assert(Clean.dedupKeepFirst(once, Seq("pk"), col("ord")).count()
        == once.count())
      once.unpersist()
    }
  }

  test("sales modeling identities: net = gross - discount, 0 <= discount <= gross") {
    val rowGen = for {
      q <- Gen.choose(1L, 50L)
      p <- Gen.choose(1.0, 10000.0)
      d <- Gen.choose(0.0, 100.0)
    } yield (q, p, d)
    val rows = samples(rowGen, 200)
    val df = rows.toDF("quantity", "unit_price", "discount_pct")
      .withColumn("sale_id", lit("x"))
      .withColumn("sale_date", lit("2026-01-01").cast("timestamp"))
    Model.salesFact(df)
      .select($"gross_amount", $"discount_amount", $"net_amount")
      .as[(Double, Double, Double)].collect()
      .foreach { case (g, d2, n) =>
        assert(math.abs(n - (g - d2)) < 1e-9)
        assert(d2 >= -1e-9 && d2 <= g + 1e-9)
      }
  }

  test("date dim: row count equals inclusive day span; weekend iff dow >= 5") {
    val gen = for {
      start <- Gen.choose(0L, 20000L)
      span <- Gen.choose(0L, 400L)
    } yield (start, span)
    samples(gen, 5).foreach { case (start, span) =>
      val d0 = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(start))
      val d1 = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(start + span))
      val dd = Model.dateDim(spark, d0, d1).cache()
      assert(dd.count() == span + 1)
      assert(dd.filter(col("is_weekend") =!= (col("day_of_week") >= 5))
        .count() == 0)
      dd.unpersist()
    }
  }

  test("stableSum is invariant under row permutation and partitioning") {
    samples(Gen.nonEmptyListOf(Gen.choose(-1000.0, 1000.0)), 5).foreach { xs =>
      val a = xs.toDF("v").repartition(7)
        .agg(graft.ext.Windows.stableSum(col("v"))).as[Double].head()
      val b = scala.util.Random.shuffle(xs).toDF("v").repartition(3)
        .agg(graft.ext.Windows.stableSum(col("v"))).as[Double].head()
      assert(a == b)
    }
  }

  test("TopKBuffer matches sort-based top-k under random inserts and merges") {
    val gen = for {
      k <- Gen.choose(1, 8)
      xs <- Gen.listOf(Gen.zip(
        Gen.choose(0.0, 10.0).map(d => math.rint(d * 4) / 4), // force ties
        Gen.choose(0L, 50L)))
      split <- Gen.choose(0, math.max(xs.size, 1))
    } yield (k, xs, split)
    samples(gen, 300).foreach { case (k, xs, split) =>
      val (xa, xb) = xs.splitAt(math.min(split, xs.size))
      val a = new graft.functions.TopKBuffer(k)
      val b = new graft.functions.TopKBuffer(k)
      xa.foreach { case (s, id) => a.insert(s, id) }
      xb.foreach { case (s, id) => b.insert(s, id) }
      (0 until b.size).foreach(i => a.insert(b.scores(i), b.ids(i)))
      val got = a.sortedDesc.toSeq
      // reference: full multiset sorted by (score desc, id asc), top k
      val ref = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(got == ref, s"k=$k xs=$xs")
    }
  }

  test("ShingleHex60 equals the Column-algebra shingling on random texts") {
    // texts mixing words, repeated shingles, unicode, tabs/newlines,
    // leading/trailing spaces and degenerate lengths
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("héllo", "wörld", "日本語", "a", "", "x,y"))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(math.max(n - 1, 0), sep)
      lead <- Gen.oneOf("", " ", "  ")
      tail <- Gen.oneOf("", " ")
    } yield lead + ws.zipAll(ss, "", "").map { case (w, s) => w + s }
      .mkString + tail
    val texts = samples(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        graft.functions.VectorFunctions.shingleHex60(col("text"), 3).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    val algebra = df.select(col("doc_id"),
        transform(array_distinct(TextRefs.wordShingles(col("text"), 3)),
          s => graft.ext.TextOps.hex60(s)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    assert(native == algebra)
  }

  test("DotProduct native expression equals the fold formulation exactly") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    emb.select(
      graft.ext.Similarity.dot(col("embedding"), col("embedding")).as("native"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("fold"))
      .as[(Double, Double)].collect()
      .foreach { case (n, f) => assert(n == f) }
  }
}

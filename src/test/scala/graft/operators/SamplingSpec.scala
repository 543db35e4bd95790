package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {

  test("split assignment is a pure function of the key: stable as the dataset grows") {
    import spark.implicits._
    val small = (1L to 100L).toDF("id")
    val large = (1L to 1000L).toDF("id")
    val f = Seq("train" -> 80, "test" -> 20)
    val s1 = Sampling.splitByHash(small, "id", f).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Sampling.splitByHash(large, "id", f).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every key in the small set keeps its assignment in the large set
    assert(s1.forall { case (k, v) => s2(k) == v })
    // fractions roughly hold on the large set
    val train = s2.values.count(_ == "train")
    assert(train > 700 && train < 900, s"train fraction off: $train/1000")
  }

  test("different seeds give different splits; same seed identical") {
    import spark.implicits._
    val df = (1L to 500L).toDF("id")
    val f = Seq("a" -> 50, "b" -> 50)
    def run(seed: Int) = Sampling.splitByHash(df, "id", f, seed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(run(1) == run(1))
    assert(run(1) != run(2))
  }

  test("mixture two-phase prefix sum equals the single-window cumsum (buckets=1)") {
    import spark.implicits._
    val df = (1 to 400).map(i => (s"s${i % 3}", i.toLong, (i % 7 + 1).toLong))
      .toDF("source", "doc_id", "n_tokens")
    def run(buckets: Int) =
      Sampling.mixtureByTokenBudget(df, "source", "doc_id", "n_tokens",
          _ => lit(150L), buckets = buckets)
        .select("source", "doc_id", "cum_tokens").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val one = run(1) // degenerate: one bucket == the plain per-group window
    assert(one == run(32))
    assert(one == run(7)) // span not dividing 1e6 evenly
    assert(one.nonEmpty)
  }

  test("temperature mixture: T=1 keeps natural shares, higher T flattens toward uniform") {
    import spark.implicits._
    // skewed corpus: source s0 has 4x the tokens of s1
    val df = ((1 to 400).map(i => ("s0", i.toLong, 10L)) ++
        (1 to 100).map(i => ("s1", 1000L + i, 10L)))
      .toDF("source", "doc_id", "n_tokens")
    def kept(t: Double): Map[String, Long] =
      Sampling.mixtureByTemperature(df, "source", "doc_id", "n_tokens",
          totalBudget = 2000L, temperature = t)
        .groupBy("source").agg(sum("n_tokens").as("tok"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=1: budgets ∝ totals → kept shares ≈ natural 4:1
    val nat = kept(1.0)
    assert(nat("s0").toDouble / nat("s1") > 3.0, nat.toString)
    // T=2: ∝ sqrt(totals) → ratio ≈ 2:1, strictly flatter
    val damped = kept(2.0)
    val r2 = damped("s0").toDouble / damped("s1")
    assert(r2 > 1.5 && r2 < 3.0, damped.toString)
    // very high T: near-uniform budgets
    val flat = kept(1000.0)
    val rInf = flat("s0").toDouble / flat("s1")
    assert(rInf < 1.5, flat.toString)
    // total stays within the target (floor rounding only loses tokens)
    assert(Seq(nat, damped, flat).forall(_.values.sum <= 2000L))
  }

  test("temperature mixture keeps a null source as a group and the input's column order") {
    import spark.implicits._
    // two sources of 400 tokens each, one of them null: equal sqrt
    // weights (20 and 20 of z = 40), so each gets exactly half of 400
    val df = ((1 to 40).map(i => (i.toLong, Option("s0"), 10L)) ++
        (1 to 40).map(i => (100L + i, Option.empty[String], 10L)))
      .toDF("doc_id", "source", "n_tokens")
    val out = Sampling.mixtureByTemperature(df, "source", "doc_id", "n_tokens", totalBudget = 400L)
    val kept = out.groupBy("source").agg(sum("n_tokens")).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(kept == Map(Some("s0") -> 200L, None -> 200L))
    assert(out.columns.toSeq == Seq("doc_id", "source", "n_tokens", "cum_tokens"))
  }

  test("samplePerGroup caps group size and is deterministic") {
    import spark.implicits._
    val df = (1 to 300).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "id")
    val s1 = Sampling.samplePerGroup(df, "g", "id", 10).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val s2 = Sampling.samplePerGroup(df, "g", "id", 10).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s1 == s2)
    assert(s1.groupBy(_._1).forall(_._2.size == 10))
  }

  test("interleave: schedule prefixes hold token shares near the weights") {
    import spark.implicits._
    // two sources, equal corpus sizes, weight 3:1 — every prefix of the
    // schedule should carry ~75% source-a tokens
    val df = ((1 to 300).map(i => ("a", i.toLong * 2, 5L)) ++
      (1 to 300).map(i => ("b", i.toLong * 2 + 1, 5L)))
      .toDF("source", "doc_id", "n_tokens")
    val w = (src: org.apache.spark.sql.Column) => when(src === "a", lit(3L)).otherwise(lit(1L))
    val sched = Sampling.interleaveByWeight(df, "source", "doc_id", "n_tokens", w)
      .orderBy(col("sched_key"), col("source"), col("doc_id"))
      .select("source", "n_tokens").collect().map(r => (r.getString(0), r.getLong(1)))
    // check share at several prefixes (skip the tiny head where
    // granularity dominates; past ~400 source a is exhausted — the
    // schedule is proportional only while every source has docs left)
    Seq(100, 200, 400).foreach { n =>
      val prefix = sched.take(n)
      val aTok = prefix.filter(_._1 == "a").map(_._2).sum.toDouble
      val share = aTok / prefix.map(_._2).sum
      assert(share > 0.65 && share < 0.85, s"prefix $n: a-share $share, want ~0.75")
    }
    // deterministic: same schedule on re-run
    val again = Sampling.interleaveByWeight(df, "source", "doc_id", "n_tokens", w)
      .orderBy(col("sched_key"), col("source"), col("doc_id"))
      .select("source", "n_tokens").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sched.toSeq == again.toSeq)
    // growth: an appended doc shifts only docs AFTER its hash position
    // within its own source — everything hashed before it keeps its key
    val newDoc = ("a", 9999L, 5L)
    val newOrd = Math.floorMod(Math.floorMod(9999L * 37L + 7L, 1000000007L), 1000000L)
    val grown = df.union(Seq(newDoc).toDF("source", "doc_id", "n_tokens"))
    def keys(d: org.apache.spark.sql.DataFrame) =
      Sampling.interleaveByWeight(d, "source", "doc_id", "n_tokens", w)
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(3))).toMap
    val (k1, k2) = (keys(df), keys(grown))
    k1.foreach { case (id @ (src, doc), k) =>
      val ord = Math.floorMod(Math.floorMod(doc * 37L + 7L, 1000000007L), 1000000L)
      if (src != "a" || ord < newOrd || (ord == newOrd && doc < 9999L))
        assert(k2(id) == k, s"doc $id before the insertion point moved: $k -> ${k2(id)}")
    }
  }

  test("epoch mixture: copies are floor(f) or floor(f)+1, hash-exact, subset when f<1") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // scattered keys: consecutive small ids all land in the same low
    // hash band (the affine hash is linear), which would make the
    // fractional cut degenerate
    val df = (1L to 1000L).map(i => (i * 2654435761L, if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "source")
    val ppmOf = (src: org.apache.spark.sql.Column) =>
      when(src === "even", lit(2500000L)).otherwise(lit(700000L))
    val out = Sampling.mixtureByEpochs(df, "doc_id", "source", ppmOf)
      .groupBy("doc_id", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // per-doc copy count is floor(f) or floor(f)+1 for its source
    assert(out.filter(_._2 == "even").forall(r => r._3 == 2 || r._3 == 3))
    assert(out.filter(_._2 == "odd").forall(r => r._3 == 1))
    // the fractional subset is EXACTLY the hash predicate, not approximate
    val extraEven = out.count(r => r._2 == "even" && r._3 == 3)
    val predEven = df.filter(col("source") === "even")
      .filter(Sampling.hashBucket(col("doc_id"), 1000000, 0) < 500000).count()
    assert(extraEven.toLong == predEven, s"hash-selected extras $extraEven != $predEven")
    // f < 1 downsamples: odd docs with f=0.7 emit 0 or 1 copies, a
    // strict hash-subset of the odd keys
    val oddKept = out.filter(_._2 == "odd").map(_._1).toSet
    assert(oddKept.size < 500, s"f=0.7 must drop some odd docs, kept ${oddKept.size}")
    // deterministic multiset across runs
    val again = Sampling.mixtureByEpochs(df, "doc_id", "source", ppmOf)
      .groupBy("doc_id", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
  }

  test("weight-proportional sampling: deterministic, monotone in weight, exact at the edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1L to 2000L).toDF("id")
    def kept(w: Long) = Sampling.sampleByWeight(df, "id", lit(w), den = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(kept(0L).isEmpty, "weight 0 keeps nothing")
    assert(kept(1000L).size == 2000, "weight = den keeps everything")
    // a row kept at weight w stays kept at any higher weight (membership
    // is hash < w, so the kept sets are nested) — and re-runs agree
    val (k300, k700) = (kept(300L), kept(700L))
    assert(k300.subsetOf(k700), "kept sets must nest as weight grows")
    assert(kept(300L) == k300, "membership must be deterministic")
    // keep rate tracks the weight within sampling noise
    assert(math.abs(k300.size / 2000.0 - 0.3) < 0.05, s"rate ${k300.size / 2000.0}")
    // per-row weights: rows with weight 0 never survive, den always do
    val wdf = df.withColumn("w", when(col("id") % 2 === 0, 1000L).otherwise(0L))
    val sel = Sampling.sampleByWeight(wdf, "id", col("w"), den = 1000)
      .collect().map(_.getLong(0))
    assert(sel.forall(_ % 2 == 0) && sel.length == 1000)
  }

  test("STRING keys split and sample through charHash, never to null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // string keys previously implicit-cast to null inside hashBucket:
    // every split came out null and sampleByWeight dropped every row
    val df = (1 to 500).map(i => s"https://example.com/doc/$i").toDF("url")
    val f = Seq("train" -> 80, "test" -> 20)
    val splits = Sampling.splitByHash(df, "url", f)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(splits.values.forall(v => v == "train" || v == "test"),
      "no null split assignments allowed")
    val trainFrac = splits.values.count(_ == "train") / 500.0
    assert(math.abs(trainFrac - 0.8) < 0.08, s"train fraction $trainFrac")
    // growth-stable: the same url keeps its split in a larger corpus
    val more = (1 to 900).map(i => s"https://example.com/doc/$i").toDF("url")
    val splits2 = Sampling.splitByHash(more, "url", f)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(splits.forall { case (k, v) => splits2(k) == v })
    // weight sampling keeps a sane fraction instead of dropping all rows
    val kept = Sampling.sampleByWeight(df, "url", lit(500L), den = 1000).count()
    assert(kept > 0 && kept < 500, s"kept $kept of 500 at weight 0.5")
  }
}

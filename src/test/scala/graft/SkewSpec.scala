package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join returns exactly the rows of the plain join under heavy skew") {
    import spark.implicits._
    // 50k rows, 90% on one hot key
    val fact = spark.range(50000)
      .select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
    val dim = spark.range(100).select(col("id").as("k"), concat(lit("d"), col("id")).as("label"))

    val plain = fact.join(dim, "k")
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8, factSaltSource = Seq("payload"))

    assert(salted.count() === plain.count())
    assert(salted.join(plain, Seq("k", "payload", "label"), "left_anti").count() === 0)
    assert(plain.join(salted, Seq("k", "payload", "label"), "left_anti").count() === 0)
  }

  test("salt is deterministic across evaluations (no rand())") {
    import spark.implicits._
    val df = spark.range(1000).select(col("id"), Skew.salt(16, col("id")).as("s"))
    val a = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
    assert(a.values.toSet.size > 8) // actually spreads across salt buckets
  }

  test("generator emits the requested hot-key skew deterministically") {
    val df = spark.read.format("graft.sources.v2.RatingsGenSource")
      .option("rows", 100000).option("partitions", 8)
      .option("users", 1000).option("skewPct", 90).load()
    val hotShare = df.filter(col("user_id") === 0L).count().toDouble / 100000
    assert(hotShare > 0.88 && hotShare < 0.92, s"hot share $hotShare")
  }

  test("AQE splits the skewed shuffle-join partition (plan evidence)") {
    val fact = spark.read.format("graft.sources.v2.RatingsGenSource")
      .option("rows", 2000000).option("partitions", 32)
      .option("users", 1000).option("skewPct", 90).load()
    val dim = spark.range(1000).select(col("id").as("user_id"),
      concat(lit("u"), col("id")).as("label"))
    val confs = Seq(
      // shrink AQE's skew thresholds so test-sized data triggers them,
      // and forbid broadcast so the join actually shuffles (broadcast
      // hash join is itself the first-line skew fix — the fact side
      // never moves)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = fact.join(dim, "user_id")
      // drive THIS QueryExecution (df.write would plan a fresh one),
      // so the adaptive plan we inspect is the executed, final one
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew-split in plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salting beats the plain shuffle join under 90% skew (timing evidence)") {
    // what earlier suites in this JVM left behind competes with the
    // measurement: a running query takes cores, a cached frame heap
    val leftover = spark.sparkContext.getPersistentRDDs.values.map(r => s"${r.id}:${r.name}")
    info(s"active streams: ${spark.streams.active.map(_.name).mkString("[", ", ", "]")}; " +
      s"persistent RDDs: ${leftover.size} ${leftover.take(20).mkString("[", ", ", "]")}")
    // 10M rows: the hot key's 9M-row sort must dominate the plain
    // join's wall time, or scheduler noise drowns the signal
    val fact = spark.read.format("graft.sources.v2.RatingsGenSource")
      .option("rows", 10000000).option("partitions", 32)
      .option("users", 1000).option("skewPct", 90).load()
      .withColumnRenamed("user_id", "k")
    val dim = spark.range(1000).select(col("id").as("k"),
      concat(lit("u"), col("id")).as("label"))
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE's skew splitting off: this measures SALTING alone, the
      // path for joins AQE can't rescue (see Skew scaladoc); no
      // post-shuffle coalescing either, so both plans keep 32-way
      // parallelism and the only variable is the hot key
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def timeIt(df: org.apache.spark.sql.DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // warm both paths once (codegen/JIT), then measure min-of-2 per
      // side: a single contended run of either side must not decide
      // the comparison (this suite has flaked under a concurrent
      // DuckDB sweep on the same box)
      val plainDf = fact.join(dim, "k")
      val saltedDf = Skew.saltedJoin(fact, dim, "k", salts = 32,
        factSaltSource = Seq("item_id", "ts"))
      timeIt(plainDf); timeIt(saltedDf)
      // one task owns 90% of the plain join; salting splits it 32-way.
      // Keep the strong 0.9 margin but allow ONE full re-measure: a
      // fully-loaded box compresses the parallelism advantage (every
      // core busy either way), and this test is about plan shape
      // economics, not the host's instantaneous load (measured flake:
      // 0.91x under a concurrent DuckDB sweep vs 0.78x idle)
      // LazyList memoizes: round 2 only runs if round 1 missed, and a
      // double miss asserts on round 2's own numbers — no third round
      val rounds = LazyList.fill(2)(
        (math.min(timeIt(plainDf), timeIt(plainDf)),
         math.min(timeIt(saltedDf), timeIt(saltedDf))))
      val (plain, salted) =
        rounds.find { case (p, s) => s < p * 0.9 }.getOrElse(rounds.last)
      info(f"plain=$plain%.2fs salted=$salted%.2fs (90%% skew, 10M rows, AQE skew-split off)")
      assert(salted < plain * 0.9, f"salted $salted%.2fs !< plain $plain%.2fs * 0.9")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("cooc hot-user salting: salt in the shuffle key when skew is measured; values unchanged") {
    import spark.implicits._
    // 4 hot users (deg 60) + 200 normal users (deg ≤ 6): the measured
    // gate must mark exactly the hot four and route them through the
    // salted arm
    val hot = for (u <- 0L until 4L; j <- 0L until 60L) yield (u, 1000L + (u * 7 + j) % 80)
    val normal = for (u <- 10L until 210L; j <- 0L until 6L) yield (u, 2000L + (u + j) % 50)
    val facts = (hot ++ normal).toDF("user_id", "item_id").distinct().cache()

    val plain = graft.operators.ItemCF.coocCountsOn(facts)
    val salted = graft.operators.ItemCF.coocCountsOn(facts, hotDegree = 32, salts = 8)

    // plan pin: the engaged salted arm shuffles on (user_id, __salt)
    val plan = salted.queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), s"no salt in the engaged plan:\n$plan")
    val planPlain = plain.queryExecution.optimizedPlan.toString
    assert(!planPlain.contains("__salt"))

    // value identity: not one pair count moves
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(salted) === rows(plain))
    assert(rows(salted).nonEmpty)

    // measured gate: NO hot users → the plain plan comes back
    val ungated = graft.operators.ItemCF.coocCountsOn(facts, hotDegree = 128, salts = 8)
    assert(!ungated.queryExecution.optimizedPlan.toString.contains("__salt"))
    assert(rows(ungated) === rows(plain))
    facts.unpersist()
    ()
  }

  test("derived hot cut: engages on planted skew, stays plain on unskewed data") {
    import spark.implicits._
    // 3 hot users (deg 400 — past the DerivedHotFloor AND past p99.9
    // of a 5003-user population: rank 0.999·5003 ≈ 4998 lands well
    // inside the deg-5 mass, not on the hot tail) + 5000 normal users
    // (deg 5): the derived cut must mark exactly the planted hot three
    val hot = for (u <- 0L until 3L; j <- 0L until 400L) yield (u, 10000L + (u * 401 + j) % 1000)
    val normal = for (u <- 100L until 5100L; j <- 0L until 5L) yield (u, 2000L + (u + j) % 500)
    val facts = (hot ++ normal).toDF("user_id", "item_id").distinct().cache()

    val plain = graft.operators.ItemCF.coocCountsOn(facts)
    val derived = graft.operators.ItemCF.coocCountsOn(facts,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 8)
    assert(derived.queryExecution.optimizedPlan.toString.contains("__salt"),
      "derived cut did not engage under planted skew")
    // value identity, checked distributively (240k pairs)
    assert(derived.count() === plain.count())
    assert(derived.join(plain, Seq("item_a", "item_b", "n_users"), "left_anti").count() === 0)
    facts.unpersist()

    // unskewed: max degree 60 < the floor → the plain plan comes back
    val mild = (for (u <- 0L until 50L; j <- 0L until 60L) yield (u, 1000L + (u * 7 + j) % 300))
      .toDF("user_id", "item_id").distinct()
    val gated = graft.operators.ItemCF.coocCountsOn(mild,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 8)
    assert(!gated.queryExecution.optimizedPlan.toString.contains("__salt"))
    ()
  }

  test("derived salts: sized to the measured worst profile, value-identical") {
    import spark.implicits._
    // one planted hot user deep enough that deg²/TargetPairsPerSaltTask
    // exceeds the 8 floor: deg 8000 → 64M/5M → 13 salts
    val hot = for (j <- 0L until 8000L) yield (0L, 10000L + j)
    val normal = for (u <- 100L until 3100L; j <- 0L until 5L) yield (u, 2000L + (u + j) % 500)
    val facts = (hot ++ normal).toDF("user_id", "item_id").distinct().cache()

    // at ample parallelism the WORK term binds: 8000²/5M + 1 = 13
    // (the a-side salt modulus carries the count; the b-side
    // sequence(0, useSalts-1) constant-folds to an opaque literal)
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val derived =
      try graft.operators.ItemCF.coocCountsOn(facts,
        hotDegree = graft.operators.ItemCF.DerivedHotDegree) // salts left derived
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    val plan = derived.queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), "derived cut did not engage")
    assert(plan.contains(", 13) AS __salt"),
      s"expected 13 derived salts in the engaged plan:\n$plan")
    // at the suite's 4-partition parallelism the COVERAGE term binds
    // (one hot user → ceil(4/1) = 4, clamped to the 8 floor)
    val covered = graft.operators.ItemCF.coocCountsOn(facts,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree)
    assert(covered.queryExecution.optimizedPlan.toString.contains(", 8) AS __salt"))
    // explicit salts still honored
    val explicit = graft.operators.ItemCF.coocCountsOn(facts,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 11)
    assert(explicit.queryExecution.optimizedPlan.toString.contains(", 11) AS __salt"))
    // value fingerprint vs the plain plan (full anti-join identity is
    // pinned by the derived-cut test above; at deg 8000 the pair set
    // is 32M rows, so compare one-pass aggregates here)
    val plain = graft.operators.ItemCF.coocCountsOn(facts)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("n_users"), sum(col("item_a") * col("n_users"))).head()
    assert(fp(derived) === fp(plain))
    facts.unpersist()
    ()
  }

  test("sampled derived gate: 2% degree estimate flags the hot tail, value-identical") {
    import spark.implicits._
    // force the sampled measurement path (sampleMinFacts = 0 — the
    // real floor keeps test-SF corpora on the exact path). One hot
    // user deep enough that its ~2% sample is unambiguous (deg 2000
    // → λ = 40 sampled rows >> MinSampledHits); 50 000 normal users
    // of deg 5 (λ = 0.1 — none can reach 10 sampled hits, and the
    // ~4 800 OBSERVED normal users keep the sampled p99.9 inside
    // their mass, not on the hot tail).
    val hot = for (j <- 0L until 2000L) yield (0L, 10000L + j)
    val normal = for (u <- 100L until 50100L; j <- 0L until 5L) yield (u, 2000L + (u + j) % 500)
    val facts = (hot ++ normal).toDF("user_id", "item_id").distinct().cache()

    val sampledGate = graft.operators.ItemCF.coocCountsOn(facts,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 8,
      sampleMinFacts = 0L)
    assert(sampledGate.queryExecution.optimizedPlan.toString.contains("__salt"),
      "sampled derived cut did not engage on the planted hot user")
    val plain = graft.operators.ItemCF.coocCountsOn(facts)
    assert(sampledGate.count() === plain.count())
    assert(sampledGate.join(plain, Seq("item_a", "item_b", "n_users"), "left_anti").count() === 0)

    // unskewed corpus through the sampled path: no user reaches the
    // sampled-hits floor → the plain plan comes back
    val mild = (for (u <- 0L until 50L; j <- 0L until 60L) yield (u, 1000L + (u * 7 + j) % 300))
      .toDF("user_id", "item_id").distinct()
    val gated = graft.operators.ItemCF.coocCountsOn(mild,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 8,
      sampleMinFacts = 0L)
    assert(!gated.queryExecution.optimizedPlan.toString.contains("__salt"))

    // and at the REAL floor, a test-sized corpus stays on the exact
    // path — same engaged plan and values as the unsampled r9 gate
    val exact = graft.operators.ItemCF.coocCountsOn(facts,
      hotDegree = graft.operators.ItemCF.DerivedHotDegree, salts = 8)
    assert(exact.queryExecution.optimizedPlan.toString.contains("__salt"))
    assert(exact.join(plain, Seq("item_a", "item_b", "n_users"), "left_anti").count() === 0)
    facts.unpersist()
    ()
  }

  test("hot key actually spreads across salt partitions") {
    import spark.implicits._
    val fact = spark.range(10000).select(lit(7L).as("k"), col("id").as("payload"))
    val spread = fact.select(Skew.salt(8, col("payload")).as("s"))
      .groupBy("s").count().collect()
    assert(spread.length === 8)
    val counts = spread.map(_.getLong(1))
    assert(counts.max < counts.sum / 2, s"spread: ${counts.mkString(",")}")
  }
}

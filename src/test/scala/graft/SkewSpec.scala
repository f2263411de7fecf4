package graft

import graft.obs.Capture
import graft.operators.Skew
import org.apache.spark.sql.functions._
import scala.util.Random

/** Salted aggregation/join equal their unsalted counterparts on skewed
  * data (one key holding most rows).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)
  // heavy skew: 80% of rows on key 0
  private lazy val skewed = (1 to 2000).map { i =>
    val k = if (rnd.nextInt(10) < 8) 0L else rnd.nextInt(50).toLong
    (i.toLong, k, rnd.nextInt(1000).toDouble)
  }.toDF("id", "k", "v").cache()

  test("saltedAggregate equals direct groupBy on skewed keys") {
    val direct = skewed.groupBy($"k".as("key"))
      .agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(28,6)")).cast("double").as("sum_value"))
      .collect().toSet
    val salted = Skew.saltedAggregate(skewed, $"k", $"v", saltBuckets = 8)
      .collect().toSet
    assert(salted == direct)
  }

  test("saltedAggregateExact equals direct composite-key groupBy, keeps decimal") {
    val withDay = skewed.withColumn("day", $"id" % 5)
    val direct = withDay.groupBy("k", "day")
      .agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_value"))
      .collect().toSet
    val salted = Skew.saltedAggregateExact(withDay, Seq("k", "day"), $"v",
        saltBuckets = 8).collect().toSet
    assert(salted == direct)
    val sumType = Skew.saltedAggregateExact(withDay, Seq("k", "day"), $"v", 8)
      .schema("sum_value").dataType
    assert(sumType == org.apache.spark.sql.types.DecimalType(28, 6),
      s"exact variant must keep the DECIMAL partial, got $sumType")
  }

  test("saltedBroadcastableJoin equals the plain inner join") {
    val dim = (0L to 49L).map(k => (k, s"name_$k")).toDF("k", "name")
    val plain = skewed.join(dim, Seq("k"), "inner")
      .select("id", "k", "v", "name").collect().toSet
    val salted = Skew.saltedBroadcastableJoin(skewed, dim, "k", saltBuckets = 8)
      .select("id", "k", "v", "name").collect().toSet
    assert(salted == plain)
  }

  // ------------------------------------------------- sf0.1 stress (90% one key)
  // 90%-one-key distribution over the real sf0.1 events table (100k rows,
  // real parquet so the plans are the production shapes, not
  // LocalTableScan).
  private def skewed01 = {
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
    ev.select(
      when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("event_id"), lit(97))).as("k"),
      col("value").as("v"), col("event_id").as("id"))
  }

  /** Max records any single task read from a shuffle during `action` —
    * the direct observable of join-key skew (the hot key's rows all land
    * on one reduce task).
    */
  private def maxTaskShuffleRecords(action: => Unit): Long =
    Capture.during(spark)(action)._2.total.maxTaskShuffleRecords

  /** Run `body` with AQE off: these tests measure the STATIC partitioning
    * property (how a hot key maps to reduce tasks); AQE's coalescing
    * folds this kilobyte-scale shuffle into one partition and its
    * adaptive wrapper hides the exchanges from plan introspection — at
    * real scale (partitions ≫ 64MB advisory size) no coalescing occurs
    * and the static property is what holds.
    */
  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("sf0.1 stress: salted join bounds per-task shuffle volume on a 90% hot key; identical rows") { withoutAqe {
    val big = skewed01
    val n = big.count() // 100k rows, ~90k on key 0
    val dim = (0L to 96L).map(k => (k, s"name_$k")).toDF("k", "name")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffle join: broadcast would hide exactly the skew under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      var plainRows = 0L
      var saltedRows = 0L
      val mPlain = maxTaskShuffleRecords {
        plainRows = big.join(dim, Seq("k"), "inner").count()
      }
      val mSalted = maxTaskShuffleRecords {
        saltedRows = Skew.saltedBroadcastableJoin(big, dim, "k", saltBuckets = 16).count()
      }
      assert(plainRows == saltedRows)
      // unsalted: every hot-key row shuffles to ONE reduce task
      assert(mPlain >= (0.88 * n).toLong,
        s"expected the hot key on one task, max=$mPlain of $n")
      // salted: the hot key spreads over 16 salt sub-keys (4 shuffle
      // partitions here, so ≈ n·0.9·(4/16) worst case + the cold keys)
      assert(mSalted <= (0.45 * n).toLong,
        s"salted join still skewed: max=$mSalted of $n")
      // and the full multiset, not just counts, is identical
      val plainSet = big.join(dim, Seq("k"), "inner")
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").cast("decimal(28,6)").as("sv"))
        .collect().toSet
      val saltedSet = Skew.saltedBroadcastableJoin(big, dim, "k", 16)
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").cast("decimal(28,6)").as("sv"))
        .collect().toSet
      assert(plainSet == saltedSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  } }

  test("sf0.1 stress: salted aggregate — identical result, salt-invariant, exchange carries the salt") { withoutAqe {
    // For algebraic aggs (count/sum) map-side combine already collapses
    // the hot key to one partial per mapper — the shuffle is NOT skewed,
    // which is exactly why saltedAggregate's value is the non-combinable
    // case (its phase-1 exchange hashes on (key, salt), so ANY payload
    // spreads). Assert (a) equality with the direct plan on the 90% key,
    // (b) salt-bucket invariance, (c) the plan property itself.
    val big = skewed01
    val direct = big.groupBy(col("k").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .collect().toSet
    val salted8 = Skew.saltedAggregate(big, col("k"), col("v"), saltBuckets = 8)
    val salted32 = Skew.saltedAggregate(big, col("k"), col("v"), saltBuckets = 32)
    assert(salted8.collect().toSet == direct)
    assert(salted32.collect().toSet == direct) // salt-invariance
    val phase1Exchange = salted8.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.map(_.outputPartitioning.toString)
    assert(phase1Exchange.exists(p => p.contains("__salt")),
      s"phase-1 exchange must partition on (key, salt): $phase1Exchange")
  } }
}

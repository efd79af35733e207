package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.Checkpoints.CheckpointOps

/** The reliable-checkpoint flag (round-8 verdict item 5): iterative
  * operators default to `localCheckpoint()` (executor-memory blocks — fine
  * on local[32], lost with an executor on a real cluster). With
  * `graft.checkpoint.reliable=true` they must run identically through
  * reliable `checkpoint()` on a configured dir — the 1000-executor
  * fault-tolerance path. dedup_cc is the deepest iterative consumer
  * (pointer-jumping CC over the embedding near-dup graph), so it exercises
  * per-round cuts, eager materialization, and multi-consumer reuse.
  *
  * The remaining cases pin what every cut promises its callers: the
  * frame's Observations fire, hash partitioning survives, and the plan
  * stats are the measured totals.
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = {
    spark.conf.unset(Checkpoints.ReliableConf)
    spark.stop()
  }

  test("dedup_cc under reliable checkpointing matches the local-checkpoint run") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    val baseline = graft.dedup.Dedup.embeddingClusters(spark, sf)
      .collect().map(_.toSeq).toSet
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, ckptDir.toString)
    try {
      val reliableRun = graft.dedup.Dedup.embeddingClusters(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(reliableRun == baseline)
      // the reliable path must actually have written checkpoint data
      val wrote = java.nio.file.Files.walk(ckptDir).count() > 1
      assert(wrote, s"no checkpoint files under $ckptDir — reliable path not taken")
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      spark.conf.unset(Checkpoints.DirConf)
    }
  }

  test("a reliable cut computes its input once") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_once")
    val evals = spark.sparkContext.longAccumulator("cut_evals")
    val tick = udf { (x: Long) => evals.add(1L); x }.asNondeterministic()
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, ckptDir.toString)
    try {
      val cut = Checkpoints.cut(spark.range(0, 1000).select(tick(col("id")).as("id")))
      assert(cut.count() == 1000L)
      assert(evals.value == 1000L, s"input rows evaluated ${evals.value} times for 1000 rows")
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      spark.conf.unset(Checkpoints.DirConf)
    }
  }

  test("reliable=true without a configured dir throws on a non-local master") {
    // a driver-local temp dir would be invisible to executors on a cluster
    intercept[IllegalArgumentException] {
      Checkpoints.resolveDir("spark://cluster:7077", None)
    }
    intercept[IllegalArgumentException] {
      Checkpoints.resolveDir("yarn", None)
    }
    // local mode may fall back to a temp dir; a configured dir always wins
    assert(Checkpoints.resolveDir("local[32]", None).nonEmpty)
    assert(Checkpoints.resolveDir("yarn", Some("hdfs:///ckpt")) == "hdfs:///ckpt")
  }

  test("flag off keeps the executor-memory path (no checkpoint dir required)") {
    assert(!Checkpoints.reliable(spark))
    val df = Tables.nation(spark, sf)
    val cut = Checkpoints.cut(df)
    assert(cut.collect().length == df.collect().length)
  }

  test("a cut completes the frame's Observation (the CC loop's convergence counter)") {
    val obs = new org.apache.spark.sql.Observation("cut_obs")
    val df = Tables.nation(spark, sf).observe(obs, count(lit(1)).as("rows"))
    Checkpoints.cut(df)
    // bounded: an Observation whose execution never ends would block forever
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s"))
    assert(row.getAs[Long]("rows") == 25L)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect() // AQE reaches its final plan
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
  }

  test("a cut of repartition(n, key) keeps HashPartitioning on key; agg and join on key add no exchange on the cut side") {
    val data = spark.range(0, 20000).select((col("id") % 500).as("k"), col("id").as("v"))
    // n = 2 is the sizedPartitions floor: repartition(1, key) would plan
    // as SinglePartition, which a join re-expands to the conf'd count
    for (n <- Seq(2, 4)) {
      val cut = data.repartition(n, col("k")).cutLineage()
      val rel = cut.queryExecution.optimizedPlan.collectFirst { case l: LogicalRDD => l }
      rel.get.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == n)
          assert(h.expressions.flatMap(_.references.map(_.name)) == Seq("k"))
        case other => fail(s"cut lost its hash partitioning: $other")
      }
      assert(shuffles(cut.groupBy(col("k")).agg(sum(col("v")))).isEmpty,
        "aggregate on the pinned key must not re-shuffle the cut")
      val other = spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joinShuffles = shuffles(cut.join(other.hint("merge"), Seq("k")))
      assert(joinShuffles.size == 1, s"only the other side should shuffle: $joinShuffles")
      assert(joinShuffles.forall(_.find(_.isInstanceOf[RDDScanExec]).isEmpty),
        "the cut side must join exchange-free")
    }
  }

  test("a cut's sizeInBytes and rowCount stats equal the materialized totals") {
    val cut = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_returnflag"))
      .cutLineage()
    val stats = cut.queryExecution.optimizedPlan.stats
    val rows = cut.count()
    val bytes = cut.queryExecution.toRdd
      .map(r => r.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).fold(0L)(_ + _)
    assert(rows > 0)
    assert(stats.rowCount.contains(BigInt(rows)))
    assert(stats.sizeInBytes == BigInt(bytes))
    assert(Checkpoints.measuredBytes(cut) == bytes)
  }

  test("sizedPartitions never returns less than 2") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      for (conf <- Seq("1", "4", "64"); bytes <- Seq(0L, 1L, 1L << 20, 5L << 20, 1L << 40)) {
        spark.conf.set(key, conf)
        val n = Checkpoints.sizedPartitions(spark, bytes)
        assert(n >= 2 && n <= math.max(2, conf.toInt), s"conf=$conf bytes=$bytes -> $n")
      }
    } finally spark.conf.set(key, before)
  }
}

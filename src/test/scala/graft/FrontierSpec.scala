package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{BlockPins, Frontier}

/** The shared iterative-loop helper (ops/Frontier.scala): frontier
  * iteration with per-round materialization, whole-table fixpoint —
  * and the BlockPins pin/sweep contract the harness loops rely on.
  *
  * WHICH LOOPS CHECKPOINT, AND WHY (the registry, pinned here so a
  * future port doesn't re-litigate it per site):
  *  - `iterate` (per-round checkpoint): graphene j5/j6/j7 descent,
  *    lineage closure, BPE merge rounds — DATA-BOUNDED or deep loops
  *    where each round's output feeds multiple consumers (emit
  *    branches + next frontier + emptiness probe); without the
  *    checkpoint the union fan-out re-derives the join per consumer
  *    (j6b's r14 failure: 48 scans of the edge source).
  *  - `fixpoint` (per-round checkpoint): pointer-jumping CC,
  *    graph_kcore3 — state REFERENCED SEVERAL TIMES per round (CC
  *    self-join; kcore's surviving-edge set feeds bidir twice plus
  *    two semi-joins), so unrolling would multiply scans
  *    exponentially in depth; and CC's depth is data-dependent.
  *  - `unrolled` (final checkpoint only): graph_pagerank3, graph_lpa
  *    — SHALLOW FIXED round counts whose state is consumed once per
  *    round and whose expensive inputs (edge/node tables) are
  *    already materialized blocks; per-round checkpoints would buy
  *    nothing and cost ~70 ms of job-submission floor each at bench
  *    scale (r15 verdict item 4).
  */
class FrontierSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("iterate: bounded descent emits per round and returns the final frontier") {
    val s = spark; import s.implicits._
    // parent edges of a 2-level tree: 0 -> {1,2}, 1 -> {3,4}, 2 -> {5}
    val down = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (2L, 5L))
      .toDF("node", "child")
    val start = Seq(0L).toDF("node")
    val (emits, frontier) = Frontier.iterate(start, maxRounds = 2)(
      (f, _) => f.join(down, Seq("node")).select(col("child").as("node")))(
      (f, stepped, round) => (Seq(f.withColumn("round", lit(round))), stepped))
    val emitted = emits.reduce(_ unionAll _).as[(Long, Int)].collect().toSet
    assert(emitted == Set((0L, 0), (1L, 1), (2L, 1)))
    assert(frontier.as[Long].collect().toSet == Set(3L, 4L, 5L))
  }

  test("iterate: probeEmpty stops before the depth cap") {
    val s = spark; import s.implicits._
    val up = Seq((3L, 2L), (2L, 1L)).toDF("node", "parent")
    var rounds = 0
    val (_, fin) = Frontier.iterate(Seq(3L).toDF("node"), maxRounds = 10,
      probeEmpty = true)(
      (f, _) => { rounds += 1
        f.join(up, Seq("node")).select(col("parent").as("node")) })(
      (_, stepped, _) => (Seq.empty, stepped))
    assert(fin.isEmpty)
    assert(rounds == 3, s"3 -> 2 -> 1 -> {} should stop after 3 rounds, ran $rounds")
  }

  test("iterate: each round's step output is materialized (lineage cut)") {
    val s = spark; import s.implicits._
    val down = Seq((0L, 1L), (1L, 2L)).toDF("node", "child")
    val (_, frontier) = Frontier.iterate(Seq(0L).toDF("node"), maxRounds = 2)(
      (f, _) => f.join(down, Seq("node")).select(col("child").as("node")))(
      (_, stepped, _) => (Seq.empty, stepped))
    // the final frontier's plan must be rooted at a scanned RDD
    // (LogicalRDD from localCheckpoint), not at the join lineage
    val plan = frontier.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("fixpoint: converges on the probe, state checkpointed per round") {
    val s = spark; import s.implicits._
    // halve every value until the probe sees the all-zero fixpoint
    var prev = -1L
    val out = Frontier.fixpoint(Seq(8L, 4L).toDF("v")) {
      (st, _) => st.select((col("v") / 2).cast("long").as("v"))
    } { (st, _) =>
      val sm = st.agg(sum("v")).head().getLong(0)
      val done = sm == prev; prev = sm; done
    }
    assert(out.as[Long].collect().toSet == Set(0L))
    val plan = out.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"), plan)
  }

  test("fixpointObserved: metric rides the checkpoint job — no probe job") {
    val s = spark; import s.implicits._
    // same halving loop as the fixpoint test: converges to all-zero
    var prev = -1L
    var rounds = 0
    val out = Frontier.fixpointObserved(Seq(8L, 4L).toDF("v"),
      sum(col("v")).as("vsum")) {
      (st, _) => { rounds += 1; st.select((col("v") / 2).cast("long").as("v")) }
    } { (row, _) =>
      val sm = row.getLong(0)
      val done = sm == prev; prev = sm; done
    }
    assert(out.as[Long].collect().toSet == Set(0L))
    // 8,4 -> 4,2 -> 2,1 -> 1,0 -> 0,0 -> 0,0 (sum repeats) = 5 rounds
    assert(rounds == 5, s"expected 5 rounds, ran $rounds")
    val plan = out.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"), plan)
    // job accounting: re-run and count — each round must cost exactly
    // ONE job (the checkpoint), with no separate convergence-probe job
    prev = -1L
    var rounds2 = 0
    val jobs = graft.obs.measure(s) {
      Frontier.fixpointObserved(Seq(8L, 4L).toDF("v"),
        sum(col("v")).as("vsum")) {
        (st, _) => { rounds2 += 1; st.select((col("v") / 2).cast("long").as("v")) }
      } { (row, _) =>
        val sm = row.getLong(0)
        val done = sm == prev; prev = sm; done
      }
    }.counts.jobs
    // rounds + 1 (the start checkpoint); a narrow no-shuffle step is
    // one job per checkpoint
    assert(jobs == rounds2 + 1,
      s"expected ${rounds2 + 1} jobs (1/round + start), saw $jobs")
  }

  test("fixpoint: maxRounds caps a non-converging loop") {
    val s = spark; import s.implicits._
    var rounds = 0
    Frontier.fixpoint(Seq(1L).toDF("v"), maxRounds = 5) {
      (st, _) => { rounds += 1; st.select((col("v") + 1).as("v")) }
    } ((_, _) => false)
    assert(rounds == 5)
  }

  test("unrolled: fixed rounds in one plan, final state materialized") {
    val s = spark; import s.implicits._
    val out = Frontier.unrolled(Seq(1L, 2L).toDF("v"), rounds = 3)(
      (st, _) => st.select((col("v") * 2).as("v")))
    assert(out.as[Long].collect().toSet == Set(8L, 16L))
    // only the FINAL state is checkpointed — consumers read blocks
    val plan = out.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"), plan)
  }

  test("BlockPins: sweep releases unpinned checkpoints, keeps pinned and baseline") {
    val s = spark; import s.implicits._
    def ids = s.sparkContext.getPersistentRDDs.keySet
    val baseline = Seq(1L).toDF("v").localCheckpoint()
    baseline.count()
    val baseIds = ids.toSet
    val pinned = BlockPins.pinning(s)(Seq(2L).toDF("v").localCheckpoint())
    val leaked = Seq(3L).toDF("v").localCheckpoint()
    leaked.count()
    BlockPins.sweep(s, baseIds)
    // async unpersist: poll briefly for the leaked block to drop
    val deadline = System.currentTimeMillis() + 5000
    while (ids.size > baseIds.size + 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(ids.size == baseIds.size + 1,
      s"expected baseline + pinned to survive, got ${ids.size} vs ${baseIds.size}")
    // pinned and baseline blocks still readable
    assert(pinned.as[Long].head() == 2L)
    assert(baseline.as[Long].head() == 1L)
  }
}

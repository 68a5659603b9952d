package hostbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.Transcripts

/** `query_mix`: a fixed list of `SparkEntry.queries` in two families.
  * `conv` reads the transcripts derived per conversation
  * (`Transcripts.derive`'s `row_number` frame) and the parse, route and
  * rollup operators on top; `corpus` runs the `graft.ops` dedup and
  * curation operators over the documents table.
  *
  * The untraced run times one pass in which `clients` concurrent
  * clients run every query once and write its rows (the output the
  * oracle checks). The traced run adds sequential passes into the noop
  * sink, timed per query. */
object QueryMix {

  val Conv: Seq[String] = Seq(
    "p04_parse_keyvalue", "p07_route_multimatch_counts", "p10_count_windowed_by_role",
    "p13_rollup_conversation", "p14_rollup_salted", "p30_tail_sampling",
    "p57_turn_repetition", "p59_latency_summary", "p60_repeated_responses",
    "p61_context_length_hist", "p62_supervision_density", "p63_boilerplate_scrub",
    "p64_role_alternation", "p65_context_truncate", "p66_conv_prefix_dedup",
    "p68_periodic_loop_audit", "p69_refusal_audit", "d36_chat_render",
    "d37_loss_mask_spans")

  val Corpus: Seq[String] = Seq(
    "d01_dedup_exact", "d12_dedup_normalized", "d13_contamination", "d14_dup_spans",
    "d16_curation", "d21_shuffle_order", "d26_contamination_neardup",
    "d28_token_budget", "d32_incremental_dedup", "d43_frequent_ngrams")

  def all: Seq[String] = Conv ++ Corpus

  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Sums the data size of every broadcast exchange in the executed
    * plans it sees, including those inside adaptive query stages. */
  final class BroadcastBytes extends QueryExecutionListener {
    @volatile var bytes = 0L
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      bytes += broadcastBytes(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def broadcastBytes(plan: SparkPlan): Long = {
    val seen = mutable.Set[SparkPlan]()
    def walk(p: SparkPlan): Long =
      if (!seen.add(p)) 0L
      else {
        val own = p match {
          case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          case _ => 0L
        }
        val inner = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case s: SubqueryExec => walk(s.child)
          case _ => 0L
        }
        own + inner + p.children.map(walk).sum + p.subqueries.map(walk).sum
      }
    walk(plan)
  }

  /** A closed loop of `clients` threads, each taking the next name off a
    * shared queue and running `body` on it until the queue is empty. */
  def concurrently(clients: Int, names: Seq[String])(body: String => Unit): Unit = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    names.foreach(queue.add)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (1 to clients).map { i =>
      new Thread(() => {
        var n = queue.poll()
        while (n != null && failure.get == null) {
          try body(n)
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          n = queue.poll()
        }
      }, s"hostbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  def run(a: Args): Unit = {
    val cores = a.int("cores"); val work = a("work"); val dir = a("data")
    val traced = a.flag("trace")
    Json.write(s"$work/oracle_sql.json", all.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    // set-up warms one query of each family on the small input
    val (spark, setupS, compileS) = Bench.repeatedSetup(a.int("setups"), cores, work,
      "hostbench-queries")(() => Fanout.compileConfig()) { s =>
      Seq(Conv.head, Corpus.head).foreach(n => Bench.noop(query(s, n, a("warm"))))
    }
    // one pass: every query once, its rows written for the oracle check
    val cpu0 = Bench.cpuSeconds()
    val passS = Bench.time(concurrently(a.int("clients"), all) { n =>
      query(spark, n, dir).write.mode("overwrite").parquet(s"$work/check/$n")
    })
    val cpu = Bench.cpuSeconds() - cpu0
    val result = if (traced) tracedRun(spark, a, dir) else Map("job_s" -> Seq(passS), "cpu_s" -> cpu)
    Json.write(a("out"), result ++ Map(
      "setup_s" -> setupS, "compile_s" -> compileS,
      "host" -> Bench.hostInfo(cores)))
    spark.stop()
  }

  def tracedRun(spark: SparkSession, a: Args, dir: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    val bb = new BroadcastBytes
    val tracer = new Tracer(s"queries-${a("seed")}", true, () => sc)
    val reps = a.int("trace_reps")
    sc.addSparkListener(listener)
    val perQuery = all.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val deriveS = mutable.ArrayBuffer[Double]()
    val broadcast = mutable.ArrayBuffer[Long]()
    (1 to reps).foreach { _ =>
      tracer.span("sources.derive") { Bench.noop(Transcripts.fromEvents(spark, dir)) }
      deriveS += tracer.recorded.last.seconds
      Conv.foreach { n =>
        tracer.span(s"conv.$n") { Bench.noop(query(spark, n, dir)) }
        perQuery(n) += tracer.recorded.last.seconds
      }
      spark.listenerManager.register(bb)
      bb.bytes = 0L
      Corpus.foreach { n =>
        tracer.span(s"ops.$n") { Bench.noop(query(spark, n, dir)) }
        perQuery(n) += tracer.recorded.last.seconds
      }
      // the execution listener is asynchronous too
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(sc, 30000L)
      spark.listenerManager.unregister(bb)
      broadcast += bb.bytes
    }
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(sc, 30000L)
    sc.removeSparkListener(listener)
    def perRep(t: LayerTotals): Map[String, Any] = Map(
      "tasks" -> t.tasks.toDouble / reps, "task_s" -> t.taskMs / 1e3 / reps,
      "gc_s" -> t.gcMs / 1e3 / reps, "shuffle_wait_s" -> t.fetchWaitMs / 1e3 / reps,
      "spill_bytes" -> t.spillBytes.toDouble / reps,
      "shuffle_bytes" -> t.shuffleWriteBytes.toDouble / reps,
      "tasks_failed" -> t.failed.toDouble)
    tracer.writeJson(s"${a("work")}/spans.json")
    Map(
      "query_s" -> perQuery.map { case (n, xs) => n -> Bench.median(xs.toSeq) },
      "conv_pass_s" -> (0 until reps).map(i => Conv.map(perQuery(_)(i)).sum),
      "corpus_pass_s" -> (0 until reps).map(i => Corpus.map(perQuery(_)(i)).sum),
      "derive_s" -> deriveS.toSeq,
      "broadcast_bytes" -> Bench.median(broadcast.map(_.toDouble).toSeq),
      "layers" -> Map(
        "sources" -> perRep(listener.sum(_.startsWith("sources.derive#"))),
        "ops" -> perRep(listener.sum(_.startsWith("ops.")))))
  }
}

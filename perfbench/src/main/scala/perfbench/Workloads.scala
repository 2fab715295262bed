package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** An op's check: what it produced, and what it should have produced. */
final case class Outcome(ok: Boolean, got: String, want: String = "")

/** One timed unit of work. `exec` does the engine call and checks its own
  * output; `cells` is the grid size a store op writes or reads. */
final case class Op(name: String, layer: String, kind: Int, cells: Long,
                    exec: Phases => Outcome)

object Op {
  val Query = 0
  val Write = 1
  val Read = 2
}

/** The ops of each workload, taken from the engine's query registries
  * (and, for the store ops of `bulk`, from [[ArrayStore]]). */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** The xarray-surface registries and the module each one drives. */
  private def surface: Seq[(String, Map[String, Query])] = Seq(
    "model" -> QueriesCore.queries,
    "align" -> QueriesAlign.queries,
    "agg" -> QueriesGroupBy.queries,
    "window" -> QueriesWindow.queries,
    "reshape" -> QueriesReshape.queries,
    "functions" -> QueriesFunctions.queries,
    "functions" -> QueriesCalendar.queries,
    "exprs" -> QueriesUdf.queries)

  /** A fixed seventh of the xarray surface: every seventh query by name of
    * each module's registries (15 of 87). Named explicitly so queries
    * added to a registry later do not change the workload. */
  val interactive: Seq[String] = Seq(
    "q01_agg_partial", "q08_topk",
    "q10_align_inner", "q16_asof_backward",
    "q128_qcut", "q21_weighted_mean", "q301_mad",
    "q125_rolling_stats", "q30_coarsen",
    "q116_multiindex_sel",
    "q119_cftime_calendars", "q164_str_tail2", "q284_ufunc_battery5",
    "q202_ewm_halflife", "q61f_ewm_noadjust")

  /** The curation verbs of the `bulk` workload and the module each one
    * drives: MinHash dedup (shuffle), the k-core checkpoint loop with
    * cached rounds, the bootstrap's CPU fan-out and a streaming sketch. */
  val bulk: Seq[(String, String)] = Seq(
    "q51_minhash_lsh" -> "llm", "q356_kcore" -> "llm",
    "q333_poisson_bootstrap" -> "numerics", "q306_stream_countmin" -> "streaming")

  /** Input tables of each workload under the benchmark's data directory.
    * The surface queries run on the smallest scale; the verbs run on a
    * scale ten times larger, where the bootstrap's kernel work outweighs
    * its fixed per-op cost. */
  def dataDir(root: String, workload: String): String = workload match {
    case "interactive" => s"$root/sf0.001"
    case "bulk" => s"$root/sf0.01"
  }

  private def bulkRegistry: Map[String, Query] =
    QueriesLLM.queries ++ QueriesMore.queries ++ QueriesNumerics.queries ++
      QueriesStreaming.queries

  /** Time the registry call, force the fingerprint plan, then run the
    * fingerprint action and compare it with the recorded one. */
  def registryOp(spark: SparkSession, data: String,
                 expected: Map[String, Gate.Fingerprint], name: String,
                 layer: String, q: Query): Op =
    Op(name, layer, Op.Query, 0L, ph => {
      val df = ph("op.call")(q(spark, data))
      val fp = Gate.fingerprintDF(df)
      ph.plan(ph("op.plan")(fp.queryExecution.executedPlan))
      val got = ph("op.action")(Gate.read(fp))
      val want = expected.get(name)
      Outcome(want.contains(got), got.toString,
        want.fold("nothing recorded")(_.toString))
    })

  def interactiveOps(spark: SparkSession, data: String,
                     expected: Map[String, Gate.Fingerprint]): Seq[Op] = {
    val byName = surface.flatMap { case (layer, reg) =>
      reg.map { case (n, q) => n -> registryOp(spark, data, expected, n, layer, q) }
    }.toMap
    interactive.map(byName)
  }

  def bulkOps(spark: SparkSession, data: String,
              expected: Map[String, Gate.Fingerprint]): Seq[Op] = {
    val reg = bulkRegistry
    bulk.map { case (n, layer) => registryOp(spark, data, expected, n, layer, reg(n)) }
  }
}

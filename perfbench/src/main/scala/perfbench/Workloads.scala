package perfbench

import graft.Op
import graft.operators._

/** The benchmark's workloads: which operators run, over which inputs.
  *
  * - `corpus`: the LLM-corpus build over `documents` and `embeddings`
  *   (MinHash dedup, PageRank over the duplicate graph, semantic dedup,
  *   LSH ANN, corpus selection, BPE training). The cold pass exercises the
  *   memo build path, the warm passes its read path.
  * - `adhoc`: relational, event and bucketed queries over lineitem,
  *   orders and events. Each op is short, so planning, codegen and job
  *   scheduling dominate: the workload for planner and job-count changes.
  *   It caches no blocks; only q93 writes an on-disk layout.
  */
object Workloads {
  /** Operator modules of the workloads, by the name the per-layer metrics
    * use. */
  val modules: Seq[(String, Seq[Op])] = Seq(
    "Relational" -> Relational.ops,
    "Events" -> Events.ops,
    "Relational2" -> Relational2.ops,
    "Bucketed" -> Bucketed.ops,
    "DedupOps" -> DedupOps.ops,
    "PipelineOps" -> PipelineOps.ops,
    "GraphOps" -> GraphOps.ops,
    "BpeOps" -> BpeOps.ops,
    "EmbedOps" -> EmbedOps.ops,
    "SimOps" -> SimOps.ops)

  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ops) => ops.map(_.name -> m) }.toMap

  final case class BenchOp(op: Op, module: String) {
    def name: String = op.name
    /** The registry's unique `qNN` prefix. */
    def key: String = op.name.takeWhile(_ != '_')
  }

  private val byKey: Map[String, Op] =
    modules.flatMap(_._2).map(op => op.name.takeWhile(_ != '_') -> op).toMap

  private def resolve(keys: String*): Seq[BenchOp] = keys.map { k =>
    val op = byKey.getOrElse(k, sys.error(s"no registered operator $k"))
    BenchOp(op, moduleOf(op.name))
  }

  // The lists are shortened from the full families so that one run (set-up,
  // a cold pass and at least 100 warm op samples) stays near a minute at 4
  // cores; every module of a workload keeps at least one op. `adhoc` takes
  // short ops of each module, since its 100 warm samples dominate its run
  // time, and stays small enough that a warm pass's generated classes fit
  // Spark's codegen cache (100 entries): with nine ops some runs recompiled
  // about 25 classes on every warm pass and others none, which made warm
  // times bimodal from run to run. GraphOps runs q95 rather than q97:
  // q97 adds connected components over the same pairs, about 8 s a run.

  val corpus: Seq[BenchOp] = resolve(
    "q50", // DedupOps: MinHash pair-set memo build, then readout
    "q95", // GraphOps: PageRank over the dedup pairs
    "q153", // EmbedOps: banded semantic dedup
    "q54", // SimOps: LSH ANN through the native LshBucketOf expression
    "q77", // PipelineOps: corpus selection over the dedup memos
    "q144") // BpeOps: BPE training memo

  val adhoc: Seq[BenchOp] = resolve(
    "q2", "q9", // Relational: filter-project, top-k
    "q64", // Events: as-of join
    "q57", // Relational2: full outer join
    "q93") // Bucketed: join over a bucketed on-disk layout

  val all: Map[String, Seq[BenchOp]] =
    Map("corpus" -> corpus, "adhoc" -> adhoc)

  /** The host canary: one fixed, cheap selective aggregate. */
  val canary: Op = byKey("q6")
}

package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftExpressionBridge,
  SparkSession}
import org.apache.spark.sql.functions.broadcast

/**
 * The small-input law: when the engine can SHOW an input is small, the
 * fixed per-job and per-plan costs that Spark's defaults amortize over
 * large inputs (adaptive re-planning jobs, many-task shuffles, Janino
 * compiles of generated code) dominate, so the engine turns them off
 * for that input only. Large inputs never arm, so at 100 TB the
 * session's own settings (AQE skew joins, runtime coalescing,
 * whole-stage codegen) keep working. Results are identical either
 * way: AQE, partition counts, hints and codegen never change
 * semantics.
 *
 * One mechanism carries the law: a frame is rebound (its analyzed
 * plan, `GraftExpressionBridge.rebind`) into a cached CHILD session of
 * the caller's whose confs carry the armed dials, and it plans and
 * runs there. Children are cloned once per (root session, override
 * map) and re-cloned when the root's confs change. The caller's
 * session is never written to, so a concurrent query on it plans
 * under its own confs, and concurrent armed regions overlap. The law
 * has two uses.
 *
 * 1. The loop window: [[graft.Rounds.gate]] in a bounded-round
 *    operator, [[withMeasured]] in the PageRank family's kernel. The
 *    operator measures its loop frames' ROW count; under [[SmallRows]] the
 *    window arms (1) AQE off below [[AqeOffRows]] — every join side is
 *    statically broadcast-able, and each rotation's multi-exchange
 *    stage tree collapses into ONE job instead of one job per
 *    exchange; (2) shuffle partitions derived from the measured rows
 *    ([[RowsPerPartition]] each); (3) whole-stage codegen off at one
 *    partition's worth of rows, since round-varying literals make
 *    every rotation compile fresh classes; (4) a broadcast-hint
 *    function for the caller's vertex-sized join sides (rotated
 *    leaves carry capped "unknown" stats, so static planning would
 *    otherwise sort-merge everything). The dials become the calling
 *    THREAD's armed scope for the body; a nested window merges its
 *    dials over the outer ones (inner wins per key), and the previous
 *    scope comes back on every exit path. Frames stay bound to the
 *    caller's session inside the body: only the eager actions run
 *    armed, through [[armed]] — `graft.Rotation` checkpoints,
 *    `CacheScope.persist` (the cached physical plan is built at
 *    persist time) and the loops' own scalar fetches. Each returns
 *    caller-bound frames, so the operator's final action plans
 *    unarmed. Work handed to another thread (a `Future`) carries no
 *    scope: bind its frame with [[armed]] before spawning it.
 *
 *    An `Observation` must be attached AFTER the rebind: the metrics
 *    are delivered to the session the action runs in, so one attached
 *    to a caller-bound frame whose action runs in the child never
 *    completes (and an uncapped await hangs).
 *
 * 2. The serve binding, [[bindSmall]]. A per-request operator (point
 *    reads, index lookups, scan pages, snapshot mutations) returns a
 *    frame whose leaf size estimate (file listings and local data: no
 *    job) is under [[SmallBytes]]; the frame is rebound into the
 *    interpreted child and the caller gets the rebound frame.
 *
 * Why `spark.sql.codegen.factoryMode=NO_CODEGEN` and not only
 * `wholeStage=false`: Spark inlines long, double and string literals
 * into generated source, so each request's fresh id list, cursor,
 * price or key compiles new classes. Without whole-stage codegen the
 * per-operator projections, predicates and orderings are STILL
 * generated (one Janino compile each) unless the factory mode selects
 * their interpreted versions. Under [[SmallBytes]] interpreted
 * evaluation costs less than the compiles it avoids; a serve_mixed
 * cycle of 17 requests went from about 105 compiles to none.
 * `factoryMode` is an internal conf: ServePathSpec
 * asserts zero compiles, so a Spark version that stops honouring it
 * fails there.
 *
 * Why a ROW bound is safe for the loop window (r15 ADVICE
 * adjudication, kept from the leiden law): every hinted side in these
 * operators is a narrow fixed-shape frame — (v,label)/(v,color) pairs,
 * (v,k) strengths, (id,score) ranks — 2-5 primitive columns, ≤ ~48
 * bytes per unsafe row, so 500 k rows ≤ ~24 MB serialized: inside
 * Spark's 8 GB broadcast-build cap by 300× and a rounding error
 * against executor memory. The row bound is never applied to
 * arbitrary user frames; the serve binding bounds bytes instead.
 */
object StaticPlan {
  /** Measured row bound under which static planning arms — the same
    * bound that arms the leiden broadcast-hint law (r15). */
  val SmallRows = 500000L

  /** Diagnostic kill-switches (measurement instrumentation, guide §1):
    * `SPARK_GRAFT_LAW_DISABLE=all|aqe|parts|codegen|hints[,..]` drops
    * individual dials from the armed law so an A/B can attribute a
    * regression to ONE dial. Unset in production and in the driver's
    * bench — default behavior is byte-identical to the law as shipped. */
  private val disabled: Set[String] = sys.env.get("SPARK_GRAFT_LAW_DISABLE")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    .getOrElse(Set.empty)

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val ShufKey = "spark.sql.shuffle.partitions"
  private val CodegenKey = "spark.sql.codegen.wholeStage"

  /** Rows per post-shuffle partition under the law. Static planning
    * loses AQE's runtime coalescing, so the engine derives the
    * partition count from the MEASURED size instead (guide §2: make
    * partitioning scale-adaptive — derive from input size, never a
    * constant tuned to one deployment): a 5 k-row label frame plans 1
    * partition (32 tasks of microseconds each was the floor being
    * cut), a 400 k-row edge frame keeps real parallelism. */
  val RowsPerPartition = 32768L

  /** Leaf bytes under which [[bindSmall]] runs a frame interpreted,
    * from the measured crossover of interpreted against codegen runs
    * with fresh literals on every call (local[4]; CHANGES.md has the
    * table). Pruned reads (GetProps, Lookup, GetNeighbors) ran 17-48 %
    * faster interpreted at every size up to 1.5 M order rows (19 MB).
    * Full-snapshot rewrites (addRows, deleteRows) cross over near
    * 150 k rows (1.9 MB: 3-9 % slower interpreted) and lose 13-29 % at
    * 500 k rows (6.4 MB), 44-62 % at 1.5 M. The rewrites bound it. */
  val SmallBytes = 2L << 20

  /** The serve binding's dials: interpreted execution. */
  private val Interpreted = Map(CodegenKey -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** parent -> (parent confs at clone time, override map -> child),
    * and child -> parent. Neither map keeps a session alive: children
    * are softly held, so a young GC does not discard them between
    * requests, and once the caller drops its session both entries go
    * with the children's soft references. */
  private val children = new java.util.WeakHashMap[SparkSession,
    (Map[String, String],
      Map[Map[String, String], java.lang.ref.SoftReference[SparkSession]])]()
  private val parents = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.WeakReference[SparkSession]]()

  /** The session `spark` was cloned from by this law, or `spark`
    * itself. Catalog DDL must run there: each session keeps its own
    * relation cache, and a DROP issued from a child would leave the
    * caller's cached relation pointing at deleted files. */
  def rootOf(spark: SparkSession): SparkSession = parents.synchronized {
    Option(parents.get(spark)).flatMap(r => Option(r.get)).getOrElse(spark)
  }

  /** The child of `parent` carrying `overrides`, re-cloned whenever
    * the parent's confs changed since the clone (a `session.timeZone`
    * change changes answers). The overrides are the only confs ever
    * set, and only on a fresh clone. */
  private def childOf(parent: SparkSession,
      overrides: Map[String, String]): SparkSession = parents.synchronized {
    val confs = parent.conf.getAll
    val kids = Option(children.get(parent)).filter(_._1 == confs)
      .map(_._2).getOrElse(Map.empty)
    kids.get(overrides).flatMap(r => Option(r.get)).getOrElse {
      val child = GraftExpressionBridge.cloneSession(parent)
      overrides.foreach { case (k, v) => child.conf.set(k, v) }
      children.put(parent,
        (confs, kids + (overrides -> new java.lang.ref.SoftReference(child))))
      parents.put(child, new java.lang.ref.WeakReference(parent))
      child
    }
  }

  /** The serve binding: `df` rebound into its session's interpreted
    * child when its leaves hold under [[SmallBytes]], else `df`
    * unchanged (large inputs keep codegen). A frame already bound is
    * returned as it is; so is a streaming frame. */
  def bindSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (df.isStreaming || rootOf(spark) != spark ||
        GraftExpressionBridge.leafBytes(df) >= SmallBytes) df
    else GraftExpressionBridge.rebind(childOf(spark, Interpreted), df)
  }

  /** Measured row bound under which AQE is disabled while armed —
    * r17 re-tune of the r16 law (VERDICT r16 "Next #1"): the r16 law
    * disabled AQE for EVERY armed loop (≤ 500 k rows), and the driver
    * + both committed cooled records showed the armed MID BAND
    * regress at 32 cores (cc_bigstar 310 k-row rounds 0.62×, the
    * 65536-row ivfTrain/beam gates 0.31–0.71×), while every verified
    * win sat at or under ~62.5 k rows (katz/eigen 62 500, hyperBall
    * 62 250, matching 40 k, lpa 30 k, scc 4.8 k, leiden/boruvka
    * ≤ 500). A 5-config × 2-rep dial-isolation matrix (committed in
    * OPTIMIZATION_r17.md) attributed the mid-band cost to the
    * AQE-off dial specifically (ccstar min 3.47 s law-as-shipped vs
    * 3.00 s with AQE kept; derived partitions and codegen-off were
    * both WINS at every size). Mechanism: a mid-band round does real
    * multi-partition exchange work, and AQE's runtime re-planning
    * (local coalescing, runtime broadcast of frames the static
    * planner can't prove small) buys more than its per-exchange
    * materialization jobs cost; on a ≤ 2-partition round there is
    * nothing to re-plan and the extra jobs are pure floor. So: AQE
    * turns off only below TWO partitions' worth of measured rows;
    * the broadcast hints and the derived partition count (which AQE
    * coalesces FROM when it stays on) keep the full ≤ 500 k arm.
    * Parameterised (env `SPARK_GRAFT_LAW_AQE_ROWS`) so a deployment
    * with different core counts / task-launch costs can re-derive its
    * own band from the same A/B without a rebuild; the default is the
    * measured local[32] value. */
  val AqeOffRows: Long = sys.env.get("SPARK_GRAFT_LAW_AQE_ROWS")
    .map(_.toLong).getOrElse(2L * RowsPerPartition)

  /** The calling thread's armed dials (empty: no window armed). */
  private val scope = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** `ds` rebound into the armed child of its root session when the
    * calling thread runs an armed [[withMeasured]] window, else `ds`.
    * Run a window's eager actions (and persists) on this frame. */
  def armed[T](ds: Dataset[T]): Dataset[T] = {
    val dials = scope.get
    if (dials.isEmpty) ds
    else GraftExpressionBridge.rebind(
      childOf(rootOf(ds.sparkSession), dials), ds)
  }

  /** Run `body` under the static-small law when `measuredRows` is
    * under the bound, else unchanged. The body receives the broadcast-
    * hint function to apply to its measured-small join sides (identity
    * when the law is not armed); its eager actions run armed through
    * [[armed]]. Bounded-round loops open their window through
    * [[graft.Rounds]]. */
  def withMeasured[T](spark: SparkSession, measuredRows: Long)
      (body: (DataFrame => DataFrame) => T): T =
    scoped(body(arm(spark, measuredRows)))

  /** `body` with the calling thread's armed scope restored after it on
    * every exit path: an [[arm]] inside the body lasts until then. */
  private[graft] def scoped[T](body: => T): T = {
    val outer = scope.get
    try body finally scope.set(outer)
  }

  /** Merge the law's dials for `measuredRows` over the calling thread's
    * armed scope (inner wins per key) until the enclosing [[scoped]]
    * block exits; the broadcast-hint function. With
    * `SPARK_GRAFT_LAW_LOG` set, prints the dials it actually set (after
    * the kill-switches) to stderr. */
  private[graft] def arm(spark: SparkSession,
      measuredRows: Long): DataFrame => DataFrame = {
    val small = measuredRows <= SmallRows && !disabled("all")
    val dials = if (!small) Seq.empty else {
      val parts = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        (measuredRows + RowsPerPartition - 1) / RowsPerPartition))
      // Whole-stage codegen compiles a fresh Janino class per DISTINCT
      // generated source; bounded-round loops embed round-varying
      // literals (round index, parity, level id), so every rotation
      // job pays a compile that dwarfs the microseconds of data it
      // runs on — WHEN the frame is tiny. The dial is row-derived like
      // the partition count: at ≤ one partition's worth of rows the
      // compile dominates and interpreted execution wins (measured:
      // leiden_full job-time sum 17.9 → 12.3 s); in the mid band
      // (tens of thousands to 500 k rows of real expression work per
      // round) codegen's per-row speedup outweighs the compile, so it
      // stays on. At scale the law is unarmed and nothing changes.
      Seq(
        ("aqe", measuredRows < AqeOffRows, AqeKey -> "false"),
        ("parts", true, ShufKey -> parts.toString),
        ("codegen", measuredRows <= RowsPerPartition, CodegenKey -> "false"))
        .collect { case (dial, on, kv) if on && !disabled(dial) => (dial, kv) }
    }
    val hints = small && !disabled("hints")
    if (sys.env.contains("SPARK_GRAFT_LAW_LOG")) {
      val caller = Thread.currentThread.getStackTrace
        .drop(2).filter(f => !f.getClassName.startsWith("graft.StaticPlan") &&
          !f.getClassName.startsWith("graft.Rounds")).take(2)
        .map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}:${f.getLineNumber}")
        .mkString(" < ")
      val set = dials.map { case (d, (_, v)) => s"$d=$v" } ++ Option.when(hints)("hints")
      System.err.println(s"[law] rows=$measuredRows armed=${set.nonEmpty} dials=${set.mkString(",")} at $caller")
    }
    scope.set(scope.get ++ dials.map(_._2))
    if (hints) broadcast _ else identity
  }
}

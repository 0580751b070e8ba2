package graft.functions.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.{Column, SparkSession}

/** Registration + Column-level helpers. */
object GraftFunctions {

  /** The one table of graft's native SQL functions. Both ways a session
    * gets them read it: [[ensureRegistered]] on a running session, and
    * [[graft.GraftExtensions]] under `spark.sql.extensions`. Every builder
    * checks its arity strictly (positional access would throw a raw
    * IndexOutOfBounds on a short call and silently drop an extra
    * argument), and sizing arguments must be integer literals because
    * they fix the aggregation buffer's shape. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", classOf[DotProduct], "exactly 2 arguments") {
      case Seq(x, y) => DotProduct(x, y)
    },
    fn("graft_minhash", classOf[MinHashSketch], "exactly 1 argument") {
      case Seq(child) => new MinHashSketch(child)
    },
    fn("graft_bloom_agg", classOf[BloomSketchAgg], "1 or 3 arguments") {
      case Seq(child) => new BloomSketchAgg(child)
      case Seq(child, bits, hashes) => BloomSketchAgg(child,
        intLiteral("graft_bloom_agg", "numBits", bits),
        intLiteral("graft_bloom_agg", "numHashes", hashes), 0, 0)
    },
    fn("graft_bloom_contains", classOf[BloomContains], "exactly 2 arguments") {
      case Seq(bloom, key) => BloomContains(bloom, key)
    },
    fn("graft_bloom_merge", classOf[BloomMergeAgg], "exactly 1 argument") {
      case Seq(child) => new BloomMergeAgg(child)
    },
    fn("graft_robust_stats", classOf[RobustStatsAgg], "exactly 1 argument") {
      case Seq(child) => new RobustStatsAgg(child)
    },
    fn("graft_cms_agg", classOf[CmsSketchAgg], "1 or 3 arguments") {
      case Seq(child) => new CmsSketchAgg(child)
      case Seq(child, depth, width) => CmsSketchAgg(child,
        intLiteral("graft_cms_agg", "depth", depth),
        intLiteral("graft_cms_agg", "width", width), 0, 0)
    },
    fn("graft_cms_estimate", classOf[CmsEstimate], "exactly 2 arguments") {
      case Seq(cms, key) => CmsEstimate(cms, key)
    },
    fn("graft_cms_merge", classOf[CmsMergeAgg], "exactly 1 argument") {
      case Seq(child) => new CmsMergeAgg(child)
    },
    fn("graft_kmv_agg", classOf[KmvSketchAgg], "1 or 2 arguments") {
      case Seq(child) => new KmvSketchAgg(child)
      case Seq(child, k) => KmvSketchAgg(child, intLiteral("graft_kmv_agg", "k", k), 0, 0)
    },
    fn("graft_kmv_estimate", classOf[KmvEstimate], "exactly 1 argument") {
      case Seq(child) => KmvEstimate(child)
    },
    fn("graft_kmv_merge", classOf[KmvMergeAgg], "exactly 1 argument") {
      case Seq(child) => new KmvMergeAgg(child)
    },
    fn("graft_kmv_intersect", classOf[KmvIntersect], "exactly 2 arguments") {
      case Seq(a, b) => KmvIntersect(a, b)
    })

  private def fn(name: String, cls: Class[_], arity: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      args => build.applyOrElse(args, (other: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name expects $arity, got ${other.size}")))

  private def intLiteral(name: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: $what must be an integer literal, got $other")
  }

  /** Idempotently registers every function in [[all]] in the session's
    * function registry. */
  def ensureRegistered(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** KMV theta sketch build over a string key column (binary artifact). */
  def kmvAggCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kmv_agg", c)

  /** Distinct-count estimate from a KMV artifact (exact below k). */
  def kmvEstimateCol(artifact: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kmv_estimate", artifact)

  /** Union of KMV artifacts into one (aggregate; see KmvMergeAgg). */
  def kmvMergeCol(artifact: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kmv_merge", artifact)

  /** Theta-rule intersection-cardinality estimate of two KMV artifacts. */
  def kmvIntersectCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kmv_intersect", a, b)

  /** Grouped MinHash signature (array<long> of 32 component minima). */
  def minhashSketchCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash", c)

  /** Bloom-filter build over a string key column (binary artifact). */
  def bloomAggCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_agg", c)

  /** Membership probe: false ⇒ definitely absent, true ⇒ FPR-bounded maybe. */
  def bloomContainsCol(bloom: Column, key: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_contains", bloom, key)

  /** OR-union of bloom artifacts into one (aggregate; see BloomMergeAgg). */
  def bloomMergeCol(artifact: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_merge", artifact)

  /** Count-min sketch build over a string key column (binary artifact). */
  def cmsAggCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cms_agg", c)

  /** Point-frequency estimate: min of the key's d counters — ≥ the true
    * count always, ≤ true + εN with probability 1−2^−d. */
  def cmsEstimateCol(cms: Column, key: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cms_estimate", cms, key)

  /** Merge pre-built CMS artifacts by elementwise counter sum. */
  def cmsMergeCol(artifact: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cms_merge", artifact)

  /** dot(a, b) as a Column; requires ensureRegistered on the session. */
  def dotCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** L2 norm via dot(v, v) — same fold order as summing squares. */
  def normCol(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotCol(v, v))
}

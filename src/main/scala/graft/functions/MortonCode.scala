package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import graft.core.{Morton, MurmurHash3_128, ShardingSpec}

/** Native Catalyst expression for the compressed morton code (F1,
  * datasource/precomputed/common.py:55-86) — SURVEY §2.10's top custom
  * Expression. Unlike a Scala UDF, this stays inside whole-stage
  * codegen: `doGenCode` emits a direct static call with primitive
  * longs (no boxing, no serialized closure, null-safety handled by the
  * generated prologue).
  */
case class MortonCodeExpr(children: Seq[Expression]) extends StaticLongCallExpr {
  require(children.length == 6,
    "graft_morton(gx, gy, gz, nx, ny, nz) takes 6 arguments")
  override def staticCall: String = "graft.core.Morton.encodeRaw"
  override def evalStatic(args: Seq[Long]): Long =
    Morton.encodeRaw(args(0), args(1), args(2), args(3), args(4), args(5))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Shared shape for the codegen'd long-valued expression family
  * (§2.10: morton_code, mmh3_64, shard_location): children evaluate to
  * longs, the result is one static call with primitive args.
  */
abstract class StaticLongCallExpr extends Expression {
  /** Fully-qualified static method the generated code calls. */
  def staticCall: String
  def evalStatic(args: Seq[Long]): Long

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  /** Widen integral inputs like the codegen path does (Java widens int
    * args into the long-typed static call) — otherwise interpreted
    * eval (ConstantFolding on int literals) would ClassCastException
    * while the compiled path silently worked.
    */
  private def toLong(v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case s: java.lang.Short => s.toLong
    case b: java.lang.Byte => b.toLong
    case other => throw new IllegalArgumentException(
      s"$prettyName expects integral arguments, got ${other.getClass}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else evalStatic(vs.map(toLong))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val childCode = evals.map(_.code).reduce(_ + _)
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    ev.copy(code = childCode + code"""
      |boolean ${ev.isNull} = $anyNull;
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $staticCall($args);
      |}""".stripMargin)
  }
}

/** F2: murmurhash3_x86_128 low-64 of the uint64-LE bytes (the sharded
  * format's hash, mmh3.py; sharding.py:77).
  */
case class Mmh3Expr(children: Seq[Expression]) extends StaticLongCallExpr {
  require(children.length == 1, "graft_mmh3(label) takes 1 argument")
  override def staticCall: String = "graft.core.MurmurHash3_128.hashUint64LE"
  override def evalStatic(args: Seq[Long]): Long =
    MurmurHash3_128.hashUint64LE(args.head)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** F3: shard number of a label
  * (graft_shard_of(label, preshift, minishardBits, shardBits, mmh3)).
  */
case class ShardOfExpr(children: Seq[Expression]) extends StaticLongCallExpr {
  require(children.length == 5, "graft_shard_of takes 5 arguments")
  override def staticCall: String = "graft.functions.ShardOfExpr.call"
  override def evalStatic(args: Seq[Long]): Long =
    ShardOfExpr.call(args(0), args(1), args(2), args(3), args(4))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object ShardOfExpr {
  def call(label: Long, pre: Long, msb: Long, sb: Long, mmh3: Long): Long =
    ShardingSpec.shardOf(label, pre.toInt, msb.toInt, sb.toInt, mmh3 != 0L)
}

/** F3: minishard number of a label
  * (graft_minishard_of(label, preshift, minishardBits, mmh3)).
  */
case class MinishardOfExpr(children: Seq[Expression]) extends StaticLongCallExpr {
  require(children.length == 4, "graft_minishard_of takes 4 arguments")
  override def staticCall: String = "graft.functions.MinishardOfExpr.call"
  override def evalStatic(args: Seq[Long]): Long =
    MinishardOfExpr.call(args(0), args(1), args(2), args(3))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object MinishardOfExpr {
  def call(label: Long, pre: Long, msb: Long, mmh3: Long): Long =
    ShardingSpec.minishardOf(label, pre.toInt, msb.toInt, mmh3 != 0L)
}

/** Codegen'd integer-vector primitives over array<bigint> columns —
  * the ANN/dedup hot path (SURVEY §2.8). One tight primitive loop per
  * row directly on the columnar ArrayData: no per-row Seq boxing like
  * a Scala UDF, no interpreted aggregate/zip_with tree (Spark's array
  * HOFs don't participate in whole-stage codegen).
  */
abstract class ArrayLongCallExpr extends Expression with ExpectsInputTypes {
  /** Fully-qualified static method over ArrayData args. */
  def staticCall: String
  def evalArrays(args: Seq[org.apache.spark.sql.catalyst.util.ArrayData]): Long

  // Strict array<bigint> inputs: without this, graft_dot(array(1, 2),
  // array(3, 4)) binds array<int> and ArrayData.getLong on 4-byte
  // elements returns silent garbage under codegen. Fail analysis
  // instead (no implicit cast — a hidden per-row cast in the ANN hot
  // path would be a silent 2x). Type inferred: AbstractDataType is
  // private[sql] in Spark 4, so it cannot be named here.
  override def inputTypes =
    Seq.fill(children.length)(ArrayType(LongType))

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else evalArrays(
      vs.map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val childCode = evals.map(_.code).reduce(_ + _)
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    ev.copy(code = childCode + code"""
      |boolean ${ev.isNull} = $anyNull;
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $staticCall($args);
      |}""".stripMargin)
  }
}

/** Static loops the generated code calls (and interpreted eval reuses). */
object VecOps {
  import org.apache.spark.sql.catalyst.util.ArrayData
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"graft_dot: vector lengths differ ($n vs ${b.numElements()})")
    var s = 0L; var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }
  def norm2(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L; var i = 0
    while (i < n) { val v = a.getLong(i); s += v * v; i += 1 }
    s
  }
  def dist2(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"graft_dist2: vector lengths differ ($n vs ${b.numElements()})")
    var s = 0L; var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); s += d * d; i += 1 }
    s
  }
}

case class DotExpr(children: Seq[Expression]) extends ArrayLongCallExpr {
  require(children.length == 2, "graft_dot(a, b) takes 2 arguments")
  override def staticCall: String = "graft.functions.VecOps.dot"
  override def evalArrays(
      args: Seq[org.apache.spark.sql.catalyst.util.ArrayData]): Long =
    VecOps.dot(args(0), args(1))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

case class Norm2Expr(children: Seq[Expression]) extends ArrayLongCallExpr {
  require(children.length == 1, "graft_norm2(a) takes 1 argument")
  override def staticCall: String = "graft.functions.VecOps.norm2"
  override def evalArrays(
      args: Seq[org.apache.spark.sql.catalyst.util.ArrayData]): Long =
    VecOps.norm2(args(0))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

case class Dist2Expr(children: Seq[Expression]) extends ArrayLongCallExpr {
  require(children.length == 2, "graft_dist2(a, b) takes 2 arguments")
  override def staticCall: String = "graft.functions.VecOps.dist2"
  override def evalArrays(
      args: Seq[org.apache.spark.sql.catalyst.util.ArrayData]): Long =
    VecOps.dist2(args(0), args(1))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** Registration: per-session (runtime) or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  private def info(name: String, cls: Class[_]) =
    new ExpressionInfo(cls.getName, name)

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_morton", info("graft_morton", classOf[MortonCodeExpr]),
      (args: Seq[Expression]) => MortonCodeExpr(args)),
    ("graft_mmh3", info("graft_mmh3", classOf[Mmh3Expr]),
      (args: Seq[Expression]) => Mmh3Expr(args)),
    ("graft_shard_of", info("graft_shard_of", classOf[ShardOfExpr]),
      (args: Seq[Expression]) => ShardOfExpr(args)),
    ("graft_minishard_of", info("graft_minishard_of", classOf[MinishardOfExpr]),
      (args: Seq[Expression]) => MinishardOfExpr(args)),
    ("graft_dot", info("graft_dot", classOf[DotExpr]),
      (args: Seq[Expression]) => DotExpr(args)),
    ("graft_norm2", info("graft_norm2", classOf[Norm2Expr]),
      (args: Seq[Expression]) => Norm2Expr(args)),
    ("graft_dist2", info("graft_dist2", classOf[Dist2Expr]),
      (args: Seq[Expression]) => Dist2Expr(args)),
    ("graft_kmv", info("graft_kmv", classOf[KmvSketchAgg]),
      (args: Seq[Expression]) => KmvSketchAgg.build(args)),
    ("graft_label_set", info("graft_label_set", classOf[LabelSetAgg]),
      (args: Seq[Expression]) => LabelSetAgg.build(args)),
    // F4/F5/F9 family (BboxExprs.scala) — completes the SQL surface:
    // spatial predicates, volumes, the chunk-filename codec, and the
    // graphene label fields are all callable from pure spark.sql(...)
    ("graft_bbox_overlaps", info("graft_bbox_overlaps", classOf[BboxOverlapsExpr]),
      (args: Seq[Expression]) => BboxOverlapsExpr(args)),
    ("graft_bbox_volume", info("graft_bbox_volume", classOf[BboxVolumeExpr]),
      (args: Seq[Expression]) => BboxVolumeExpr(args)),
    ("graft_bbox_filename", info("graft_bbox_filename", classOf[BboxFilenameExpr]),
      (args: Seq[Expression]) => BboxFilenameExpr(args)),
    ("graft_graphene_layer", info("graft_graphene_layer", classOf[GrapheneLayerExpr]),
      (args: Seq[Expression]) => GrapheneLayerExpr(args)),
    ("graft_graphene_segid", info("graft_graphene_segid", classOf[GrapheneSegidExpr]),
      (args: Seq[Expression]) => GrapheneSegidExpr(args)),
    ("graft_parse_u64", info("graft_parse_u64", classOf[ParseU64Expr]),
      (args: Seq[Expression]) => ParseU64Expr(args)))

  /** Register the `graft_*` SQL functions on `spark` (idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions`: the `graft_*`
  * SQL functions in every session built with that setting. Cutout
  * planning needs no setup: [[DecodeVoxels.stage]] installs it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, inf, builder) =>
      ext.injectFunction((FunctionIdentifier(name), inf, builder))
    }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, GENERATE}
import org.apache.spark.sql.types.{BooleanType, LongType}
import graft.core.{Codec, Compresso, Cseg, Vec3}

/** Catalyst optimizer rule: push a voxel-level `label = K` filter down
  * to a payload-level codec `contains()` gate BELOW the decode stage.
  *
  * The reference does this inside its read path (chunks.contains:
  * 459-484 gates rx.decode_binary_image:756-806): chunks whose encoded
  * payload provably lacks the label are never fully decoded. Here the
  * same optimization is expressed where a Spark engine should express
  * it — as a `Rule[LogicalPlan]` so ANY query that filters a cutout on
  * label equality benefits without opting in at the call site:
  * [[DecodeVoxels.stage]] adds it to the session's experimental
  * optimizations, which run after the built-in batches, i.e. after
  * predicate pushdown has produced the matched shape. Excluding it by
  * name (`spark.sql.optimizer.excludedRules`) turns it off.
  *
  * Matched shape (what the built-in optimizer leaves after pushing the
  * user's filter through the x/y/z/label projection):
  *
  *   Filter (label#N = K [AND ...])
  *   +- Generate decode_voxels(x0..z1, payload), [x, y, z, label#N]
  *      +- <chunk relation>
  *
  * rewritten to
  *
  *   Filter (label#N = K [AND ...])
  *   +- Generate decode_voxels(...)
  *      +- Filter graft_contains_gate(x0..z1, payload)
  *         +- <chunk relation>
  *
  * Soundness: the upper filter keeps only rows with label = K; any
  * chunk producing such a row contains K and passes the gate, so the
  * rewrite never changes results (the gate only drops chunks whose
  * every decoded row the upper filter would discard). A null payload
  * (fill_missing) decodes to the generator's background value, so the
  * gate passes it iff K is that value. The [[DecodeVoxels]] generator
  * carries the codec parameters (encoding, dtype bytes, cseg block
  * size) the gate needs; for cseg the gate reads only the palette
  * blocks (Cseg.labels), for raw it scans words without materializing
  * voxel rows. Encodings with no cheap membership probe (png/jpeg),
  * and the float and channel cutouts, are left untouched.
  */
object ContainsGateRule extends Rule[LogicalPlan] with PredicateHelper {

  val GateName = "graft_contains_gate"

  // it runs on every plan of a session that has built a cutout: skip
  // the walk unless the plan holds both a Filter and a Generate
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
      _.containsAllPatterns(FILTER, GENERATE)) {
    case f @ Filter(cond,
        gen @ Generate(d: DecodeVoxels, _, _, _, genOut, gchild))
        if d.labelOrdinal.isDefined && !alreadyGated(gchild) =>
      labelSet(cond, genOut(d.labelOrdinal.get)) match {
        case Some(ks) =>
          mkGate(d, ks)
            .map(g => f.copy(child = gen.copy(child = Filter(g, gchild))))
            .getOrElse(f)
        case None => f
      }
  }

  private def alreadyGated(p: LogicalPlan): Boolean = p match {
    case Filter(g: ScalaUDF, _) => g.udfName.contains(GateName)
    case _ => false
  }

  /** Extract the label set from a membership conjunct over this
    * Generate's `label` output: `label = K` (either literal order),
    * `label IN (...)`, or its InSet form.
    */
  private def labelSet(cond: Expression,
      label: Attribute): Option[Seq[Long]] = {
    def isLabel(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == label.exprId
      case _ => false
    }
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(g, Literal(k: Long, LongType)) if isLabel(g) => Seq(k)
      case EqualTo(Literal(k: Long, LongType), g) if isLabel(g) => Seq(k)
      case In(g, vs) if isLabel(g) &&
          vs.forall { case Literal(_: Long, LongType) => true; case _ => false } =>
        vs.map { case Literal(k: Long, LongType) => k }
      case InSet(g, hset) if isLabel(g) &&
          hset.forall(_.isInstanceOf[Long]) =>
        hset.toSeq.map(_.asInstanceOf[Long])
    }
  }

  /** Build the gate ScalaUDF over the SAME children as the decode
    * (x0, y0, z0, x1, y1, z1, payload): pass iff the payload contains
    * ANY of the sought labels.
    */
  private def mkGate(d: DecodeVoxels, ks: Seq[Long]): Option[Expression] = {
    val enc = d.encoding
    if (enc != "raw" && enc != "compressed_segmentation" && enc != "compresso")
      return None
    if (ks.isEmpty) return None
    val (dtb, bs, bg) = (d.dtypeBytes, d.csegBlock, d.background)
    val karr = ks.toArray
    val fn = (x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
        p: Array[Byte]) =>
      if (p == null) karr.contains(bg)
      else if (enc == "compressed_segmentation") {
        val ls = Cseg.labels(p, Vec3(x1 - x0, y1 - y0, z1 - z0), bs, dtb)
        karr.exists(ls.contains)
      } else if (enc == "compresso")
        karr.exists(k => Compresso.contains(p, k))
      else karr.exists(k => Codec.rawContains(p, dtb, k))
    Some(ScalaUDF(fn, BooleanType, d.children, Nil, None, Some(GateName),
      false, true))
  }
}

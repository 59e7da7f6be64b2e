package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guard against the Seq-argument UDF trap (r17): Spark 4
  * on Scala 2.13 deserializes a `Seq[T]` UDF argument as an immutable
  * `List`, so indexed access inside a per-row kernel is O(n) per
  * element and the kernel O(n²) per row. The full-suite sf1 slope run
  * caught the skeleton family at 15–31× on 10× data from exactly this
  * (a `udf((vs: Seq[Float]) => vs.getClass.getName)` probe returns a
  * `List` class). The rule: UDF
  * parameters over array columns take `Array[T]` (arrives as a
  * primitive array — O(1), unboxed). Sequential-only iteration over a
  * List is linear but still pays boxing; there is no good reason to
  * prefer Seq, so the guard bans it outright.
  */
class UdfSeqAuditSpec extends AnyFunSuite {

  // udf( (x: Seq[ — across "udf((", "udf {(", and multiline forms: we
  // scan a window after each "udf" token for a Seq[ parameter type
  // before the "=>".
  private val Allow = Map(
    // skel_components' compRows takes Seq[Row] (a struct array): it
    // iterates SEQUENTIALLY (foreach over fragments), so the List is
    // linear here, and Array[Row] has no ScalaReflection deserializer
    "src/main/scala/graft/ops/SkeletonQueries.scala" -> 1)

  test("no Seq-typed UDF parameters (List deserialization => O(n^2) kernels)") {
    val root = Paths.get("src/main/scala/graft")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val text = Files.readString(p)
        var c = 0
        def scanFrom(tok: String): Unit = {
          var j = text.indexOf(tok)
          while (j >= 0) {
            // reject identifiers merely containing "udf" (udfseq, myudf)
            val pre = if (j == 0) ' ' else text.charAt(j - 1)
            if (!Character.isJavaIdentifierPart(pre)) {
              // parameter list = text between the token and the first
              // "=>" (bounded window keeps prose matches harmless)
              val end = text.indexOf("=>", j)
              if (end > j && end - j < 300 &&
                  text.substring(j, end).contains(": Seq[")) c += 1
            }
            j = text.indexOf(tok, j + tok.length)
          }
        }
        scanFrom("udf(")
        scanFrom("udf {")
        p.toString -> c
      }
      .filter(_._2 > 0).toMap
    val bad = hits.filter { case (f, n) => Allow.getOrElse(f, 0) < n }
    assert(bad.isEmpty,
      s"Seq-typed UDF parameters found: $bad — use Array[T] (a Seq " +
        "argument deserializes as List; indexed kernels go quadratic, " +
        "see SkeletonQueries' r17 fix and SCALING.md round 17)")
  }
}

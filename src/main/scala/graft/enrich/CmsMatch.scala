package graft.enrich

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  InterpretedOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The deduplicated CMS side of one registry build and its matcher: exact
  * key lookup (J1), then the fuzzy top-1 (J2) — the CMS key with the
  * highest difflib ratio ≥ cutoff, ties to the smallest key — for a key that
  * misses. It travels inside the plan (see [[CmsMatch]]), so every task
  * holds its own copy and the answers depend on the key alone.
  *
  * Candidate generation is an INVERTED INDEX per length class (la, lb),
  * built lazily the first time a miss of length la probes CMS keys of
  * length lb, so only the classes the misses touch are ever built. Its
  * signatures: deletion variants for the sharp classes, pigeonhole
  * L*-grams otherwise (proofs at [[sigs]]). Every candidate is confirmed
  * with the exact ratio; pairs the index never proposes are all
  * sub-cutoff. Fuzzy answers are memoized per distinct miss key.
  *
  * Lengths are Java `String` lengths (UTF-16 units), the unit
  * [[SequenceMatcher]] scores in, so the bounds below are sound for every
  * key.
  */
final class CmsIndex private (keys: Array[String], attrs: Array[InternalRow],
    attrType: StructType, cutoff: Double) extends Serializable {

  import CmsIndex.Winner

  /** `attrType`'s fields, then `match_kind` (exact | fuzzy | none) and
    * `match_ratio` (1.0 exact, the ratio for fuzzy, null for none). */
  val outType: StructType = StructType(attrType.fields.map(_.copy(nullable = true)) ++
    Seq(StructField("match_kind", StringType, nullable = false),
      StructField("match_ratio", DoubleType, nullable = true)))

  private val byKey: Map[String, Int] = keys.zipWithIndex.toMap
  // Key indices per length, ascending — so ascending by key as well.
  private val byLen: Map[Int, Array[Int]] = keys.indices.toArray.groupBy(keys(_).length)

  @transient private lazy val classes =
    new ConcurrentHashMap[(Int, Int), Map[String, Array[Int]]]()
  @transient private lazy val memo = new ConcurrentHashMap[String, Winner]()

  /** The match struct of one scraped key (null: no key, so no match). */
  def matchRow(key: String): InternalRow = {
    val w: Winner =
      if (key == null) CmsIndex.NoMatch
      else byKey.get(key) match {
        case Some(i) => Winner(i, 1.0, "exact")
        case None => memo.computeIfAbsent(key, k => fuzzy(k))
      }
    val n = attrType.length
    val out = new Array[Any](n + 2)
    if (w.idx >= 0) {
      val a = attrs(w.idx)
      var i = 0
      while (i < n) { out(i) = a.get(i, attrType(i).dataType); i += 1 }
      out(n + 1) = w.ratio
    }
    out(n) = UTF8String.fromString(w.kind)
    new GenericInternalRow(out)
  }

  private def fuzzy(a: String): Winner = {
    val la = a.length
    var best = -1
    var bestRatio = 0.0
    val tried = mutable.HashSet.empty[Int]
    // A partner length outside the ratio's own length bound,
    // 2·min(la,lb)/(la+lb) ≥ c ⇒ lb ∈ [la·c/(2−c), la·(2−c)/c], cannot
    // reach the cutoff; the band is widened by 1 on each side for float
    // safety.
    val lo = math.max(math.floor(la * cutoff / (2.0 - cutoff)) - 1, 1.0)
    val hi = math.ceil(la * (2.0 - cutoff) / cutoff) + 1
    for ((lb, cands) <- byLen if lb >= lo && lb <= hi) {
      val index = classes.computeIfAbsent((la, lb), c => classIndex(c._1, c._2, cands))
      if (index.nonEmpty) for (s <- sigs(a, la, lb, ownIsMissSide = true);
          j <- index.getOrElse(s, Array.emptyIntArray) if tried.add(j)) {
        val r = SequenceMatcher.ratioIfAtLeast(a, keys(j), cutoff)
        if (r >= cutoff && (best < 0 || r > bestRatio || (r == bestRatio && j < best))) {
          best = j
          bestRatio = r
        }
      }
    }
    if (best < 0) CmsIndex.NoMatch else Winner(best, bestRatio, "fuzzy")
  }

  private def classIndex(la: Int, lb: Int, cands: Array[Int]): Map[String, Array[Int]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
    cands.foreach(j => sigs(keys(j), la, lb, ownIsMissSide = false)
      .foreach(s => m.getOrElseUpdate(s, new mutable.ArrayBuilder.ofInt) += j))
    m.iterator.map { case (s, b) => s -> b.result() }.toMap
  }

  // The pigeonhole theorem behind the gram signatures: difflib's ratio is
  // 2M/(la+lb) where M — the total size of its matching blocks — is the
  // size of SOME common subsequence, hence M ≤ LCS(a,b). ratio ≥ c
  // therefore forces LCS ≥ mc := ⌈c·(la+lb)/2⌉, leaving at most
  // u := la+lb−2·mc unmatched characters; the u unmatched characters split
  // the common subsequence into at most u+1 contiguous blocks, so some
  // SHARED CONTIGUOUS SUBSTRING has length ≥ L* := ⌈mc/(u+1)⌉. Sharing an
  // L*-gram is thus a sound prefilter (no ≥cutoff pair is lost); the exact
  // confirm decides. At high cutoffs L* is large and the index is sharp;
  // at low cutoffs L* degrades toward 1-grams — still sound, weaker
  // pruning.
  //
  // Float care: mc is computed as ceil(product − 1e-9) so binary rounding
  // can never push the ceiling ABOVE the exact value (overstating mc would
  // prune true pairs — unsound); understating by 1 in razor-edge cases
  // only weakens pruning.
  //
  // Deletion variants for the SHARP classes (the SymSpell / FastSS
  // device): when a class allows at most ONE unmatched char per side
  // (Da = la − mc ≤ 1 and Db = lb − mc ≤ 1), deleting each side's
  // unmatched chars leaves the matched subsequence ITSELF on both sides —
  // an equal string of length M. Delete-{0,1} variants are therefore a
  // complete candidate generator there, with a signature as long as the
  // key where the gram fallback's L* would collapse to a few chars. A
  // class with a negative budget cannot reach the cutoff (mc exceeds one
  // key's length) and emits nothing.
  private def sigs(key: String, la: Int, lb: Int, ownIsMissSide: Boolean): Iterator[String] = {
    val mc = math.ceil((la + lb).toDouble * cutoff / 2.0 - 1e-9).toLong
    val da = la - mc
    val db = lb - mc
    if (da < 0 || db < 0) Iterator.empty
    else if (da <= 1 && db <= 1) {
      if ((if (ownIsMissSide) da else db) == 0) Iterator.single(key)
      else (Iterator.single(key) ++ key.indices.iterator
        .map(i => key.substring(0, i) + key.substring(i + 1))).distinct
    } else {
      val u = la + lb - 2 * mc
      val gram = math.max(((mc + u) / (u + 1)).toInt, 1)
      if (key.length < gram) Iterator.empty
      else (0 to key.length - gram).iterator.map(i => key.substring(i, i + gram)).distinct
    }
  }

  override def toString: String = s"CmsIndex(${keys.length} keys, cutoff $cutoff)"
}

object CmsIndex {
  private final case class Winner(idx: Int, ratio: Double, kind: String)
  private val NoMatch = Winner(-1, 0.0, "none")

  /** Builds the index from collected CMS rows: field 0 is the (non-null,
    * string) key, the rest are the attributes. Duplicate keys keep the
    * struct-min attribute row — Spark's `min(struct(...))` ordering, so
    * the choice does not depend on row order. */
  def apply(rows: Array[Row], schema: StructType, cutoff: Double): CmsIndex = {
    val attrType = StructType(schema.fields.tail)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(attrType)
    val ord = InterpretedOrdering.forSchema(attrType.fields.map(_.dataType).toSeq)
    val byKey = mutable.HashMap.empty[String, InternalRow]
    rows.foreach { r =>
      val a = toCatalyst(Row.fromSeq(r.toSeq.tail)).asInstanceOf[InternalRow]
      byKey.get(r.getString(0)) match {
        case Some(b) if ord.lteq(b, a) =>
        case _ => byKey(r.getString(0)) = a
      }
    }
    // Ascending UTF-8 byte order — the order Spark compares strings in —
    // so "ties to the smallest key" is "ties to the smallest index".
    val keys = byKey.keys.toArray.sortWith((x, y) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    new CmsIndex(keys, keys.map(byKey), attrType, cutoff)
  }
}

/** `cms_match(key)`: the [[CmsIndex]] match struct of a scraped key. The
  * index rides in the plan, so it ships to executors with the task binary
  * (once per stage) and needs no join, shuffle or broadcast of its own. */
case class CmsMatch(child: Expression, index: CmsIndex)
    extends UnaryExpression with CodegenFallback {

  override def nullable: Boolean = false
  override def dataType: DataType = index.outType

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    index.matchRow(if (k == null) null else k.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): CmsMatch =
    copy(child = newChild)
  override def prettyName: String = "cms_match"
}

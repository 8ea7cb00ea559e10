package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** J1 for one vote: the reference's candidate walk (reference:
  * scripts/bills/vote_matching.py:106-170) over a roster array held in
  * the vote's own row, so resolving a batch needs no explode, join or
  * regroup.
  *
  * `roster` is `array<struct<person_id, cand_name, cand_first_last,
  * cand_state, cand_chamber, cand_name_lc, cand_last_lc, …>>` sorted by
  * person_id (fields are looked up by name); `cleanLower` is Spark's
  * `lower` of `clean`, as `cand_name_lc`/`cand_last_lc` are of the
  * candidate names, so the exact pass compares bytes. The walk, in
  * roster order:
  *   - blocking: an empty `state` keeps every candidate, otherwise
  *     `cand_state` must equal it; a non-null `chamber` must equal
  *     `cand_chamber`. A null `state` is unmatched;
  *   - exact pass: the first candidate whose lowercased full or last
  *     name equals `cleanLower` (empty names never hit) wins with score
  *     100, `exact_full` if the full name hit, else `exact_last`;
  *   - fuzzy pass, only without an exact hit: the best of WRatio against
  *     `cand_first_last` and `cand_name`; a strictly greater score
  *     replaces the best, so ties go to the lowest person_id. The best
  *     is accepted at `threshold` or above.
  *
  * Result: `struct(person_id, match_type, score)`, null when unmatched.
  * CodegenFallback, like [[JaccardSim]]: the loop is plain JVM code. */
case class ResolveVote(roster: Expression, clean: Expression,
    cleanLower: Expression, state: Expression, chamber: Expression,
    threshold: Int) extends Expression with CodegenFallback {

  override def children: Seq[Expression] =
    Seq(roster, clean, cleanLower, state, chamber)
  override def nullable: Boolean = true
  override def dataType: DataType = ResolveVote.resultType

  private lazy val cand: StructType =
    roster.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val Seq(idAt, nameAt, firstLastAt, stateAt, chamberAt, nameLcAt, lastLcAt) =
    Seq("person_id", "cand_name", "cand_first_last", "cand_state",
      "cand_chamber", "cand_name_lc", "cand_last_lc").map(cand.fieldIndex)

  private def hits(c: InternalRow, at: Int, lc: UTF8String): Boolean =
    !c.isNullAt(at) && c.getUTF8String(at).numBytes > 0 && c.getUTF8String(at) == lc

  /** WRatio against one candidate name; -1 for a null name, which never
    * becomes the best. */
  private def score(name: UTF8String, c: InternalRow, at: Int): Int =
    if (c.isNullAt(at)) -1 else WRatio.score(name, c.getUTF8String(at))

  private def result(c: InternalRow, matchType: UTF8String, score: Int): InternalRow =
    InternalRow(if (c.isNullAt(idAt)) null else c.getUTF8String(idAt).clone(),
      matchType, score)

  override def eval(input: InternalRow): Any = {
    val r = roster.eval(input).asInstanceOf[ArrayData]
    val st = state.eval(input).asInstanceOf[UTF8String]
    if (r == null || st == null) return null
    val name = clean.eval(input).asInstanceOf[UTF8String]
    val lc = cleanLower.eval(input).asInstanceOf[UTF8String]
    val ch = chamber.eval(input).asInstanceOf[UTF8String]
    val n = r.numElements()
    val width = cand.length
    def inBlock(c: InternalRow): Boolean =
      (st.numBytes == 0 || (!c.isNullAt(stateAt) && c.getUTF8String(stateAt) == st)) &&
        (ch == null || (!c.isNullAt(chamberAt) && c.getUTF8String(chamberAt) == ch))

    if (lc != null) {
      var i = 0
      while (i < n) {
        val c = r.getStruct(i, width)
        if (inBlock(c)) {
          if (hits(c, nameLcAt, lc)) return result(c, ResolveVote.ExactFull, 100)
          if (hits(c, lastLcAt, lc)) return result(c, ResolveVote.ExactLast, 100)
        }
        i += 1
      }
    }
    if (name == null) return null
    var best = -1
    var bestAt = -1
    var i = 0
    while (i < n) {
      val c = r.getStruct(i, width)
      if (inBlock(c)) {
        val s = math.max(score(name, c, firstLastAt), score(name, c, nameAt))
        if (s > best) { best = s; bestAt = i }
      }
      i += 1
    }
    if (bestAt >= 0 && best >= threshold)
      result(r.getStruct(bestAt, width), ResolveVote.Fuzzy, best)
    else null
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ResolveVote =
    copy(roster = newChildren(0), clean = newChildren(1),
      cleanLower = newChildren(2), state = newChildren(3), chamber = newChildren(4))
  override def prettyName: String = "resolve_vote"
}

object ResolveVote {
  val resultType: StructType = StructType(Seq(
    StructField("person_id", StringType),
    StructField("match_type", StringType),
    StructField("score", IntegerType, nullable = false)))

  private val ExactFull = UTF8String.fromString("exact_full")
  private val ExactLast = UTF8String.fromString("exact_last")
  private val Fuzzy = UTF8String.fromString("fuzzy")
}

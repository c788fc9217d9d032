package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSIX ustar (tar) archive walk as codegen'd Catalyst expressions —
  * the WebDataset shape: LLM multimodal corpora ship as tar members
  * (`000.jpg` + `000.txt` + …), and the ingest pipeline's first question
  * per archive is "how many members, how many payload bytes, is it
  * intact?" — answerable from the 512-byte headers alone, no extraction.
  *
  * Public format only (POSIX.1-1988 ustar): 512-byte header blocks —
  * name @0 (100 B, NUL-terminated), size @124 (12 B, OCTAL ASCII,
  * leading spaces legal, NUL/space terminated), magic @257 ("ustar",
  * covering both the POSIX "ustar\0\60\60" and GNU "ustar  \0"
  * spellings) — each followed by ⌈size/512⌉ data blocks; the archive
  * ends at a zero block (or exactly at EOF — writers that omit the
  * trailer are tolerated, real ones emit two zero blocks).
  *
  * Walk contract (the house never-throw rules):
  *  - strict per-header validation: magic mismatch, a non-octal size
  *    byte, a header or data run past EOF → NULL (corrupt bucket);
  *  - member budget 16, one past the budget → NULL (beyond-budget is
  *    indistinguishable from runaway — same rule as the mvhd child
  *    walk);
  *  - an immediate terminator is a VALID empty archive: members = 0,
  *    payload = 0, first name NULL.
  *
  * The walk lives in [[TarWalk.walk]] (a plain static method the
  * generated code calls — the loop is identical for interpreted and
  * codegen paths, so the two cannot diverge the way an inlined twin
  * could). Reference tie: the validate-before-trust byte decode of
  * `/root/reference/src/main.rs:85-86`, applied to the archive grain.
  */
object TarWalk {
  final val MemberBudget = 16

  /** All member names in archive order (NUL-trimmed), or null when the
    * walk rejects the archive — same validation as [[walk]], by
    * construction: it calls walk first, then re-reads the (now known
    * valid) headers. An empty archive yields an empty array. */
  def memberNames(a: Array[Byte]): Array[UTF8String] = {
    val w = walk(a)
    if (w == null) return null
    val out = new Array[UTF8String](w(0).toInt)
    var p = 0
    var m = 0
    while (m < out.length) {
      var n = p
      val nEnd = p + 100
      while (n < nEnd && a(n) != 0) n += 1
      out(m) = UTF8String.fromBytes(a, p, n - p)
      // size re-parse (validated by walk): octal @124
      var j = p + 124
      val end = p + 136
      while (j < end && a(j) == ' ') j += 1
      var sz = 0L
      var done = false
      while (!done && j < end) {
        val c = a(j)
        if (c >= '0' && c <= '7') sz = (sz << 3) | (c - '0')
        else done = true
        j += 1
      }
      p += 512 + (((sz + 511L) >> 9) << 9).toInt
      m += 1
    }
    out
  }

  /** `[members, payloadBytes, firstNameOff, firstNameLen]`, or null if
    * the archive is corrupt under the contract above. firstNameOff is
    * -1 for an empty archive. */
  def walk(a: Array[Byte]): Array[Long] = {
    var p = 0L
    var members = 0L
    var payload = 0L
    var nameOff = -1L
    var nameLen = 0L
    var i = 0
    while (true) {
      if (p == a.length) // clean EOF (trailer omitted)
        return Array(members, payload, nameOff, nameLen)
      if (p + 512 > a.length) return null // truncated header block
      val q = p.toInt
      if (a(q) == 0) // zero block: terminator
        return Array(members, payload, nameOff, nameLen)
      if (i >= MemberBudget) return null // beyond budget
      // magic "ustar" @257 (both POSIX and GNU spellings share it)
      if (a(q + 257) != 'u' || a(q + 258) != 's' || a(q + 259) != 't' ||
          a(q + 260) != 'a' || a(q + 261) != 'r') return null
      // octal size @124, 12 bytes: skip leading spaces, then digits,
      // NUL/space terminates; no digits or a stray byte → corrupt
      var j = q + 124
      val end = q + 136
      while (j < end && a(j) == ' ') j += 1
      var sz = 0L
      var digits = 0
      var bad = false
      var done = false
      while (!done && j < end) {
        val c = a(j)
        if (c >= '0' && c <= '7') { sz = (sz << 3) | (c - '0'); digits += 1 }
        else if (c == 0 || c == ' ') done = true
        else { bad = true; done = true }
        j += 1
      }
      if (bad || digits == 0) return null
      if (members == 0) {
        nameOff = q.toLong
        var n = q
        val nEnd = q + 100
        while (n < nEnd && a(n) != 0) n += 1
        nameLen = (n - q).toLong
      }
      members += 1
      payload += sz
      val dataBlocks = (sz + 511L) >> 9
      p += 512L + (dataBlocks << 9)
      if (p > a.length) return null // data runs past EOF
      i += 1
    }
    null // unreachable
  }
}

/** One field of an archive walk: [[TarWalk.walk]] and [[ZipWalk.walk]]
  * both return `[members, payloadBytes, firstNameOff, firstNameLen]`, or
  * null when the archive is corrupt (the field is then NULL). `walkCall`
  * names the walk for the generated code (relative to `graft.functions`)
  * and `walk` is the same method for interpreted eval. The field's type
  * picks the slot: INT is the member count (0 for a valid empty
  * archive), BIGINT the total declared payload bytes, STRING the first
  * member's name (NULL for an empty archive). */
abstract class ArchiveField(walkCall: String,
    walk: Array[Byte] => Array[Long], val dataType: DataType)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true

  override def nullSafeEval(bytes: Any): Any = {
    val a = bytes.asInstanceOf[Array[Byte]]
    val w = walk(a)
    if (w == null) null
    else dataType match {
      case IntegerType => w(0).toInt
      case LongType => w(1)
      case _ =>
        if (w(2) < 0) null
        else UTF8String.fromBytes(a, w(2).toInt, w(3).toInt)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.freshName("walk")
      val pick = dataType match {
        case IntegerType => s"${ev.value} = (int) $w[0];"
        case LongType => s"${ev.value} = $w[1];"
        case _ =>
          s"""if ($w[2] < 0) { ${ev.isNull} = true; }
             |else {
             |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String
             |    .fromBytes($a, (int) $w[2], (int) $w[3]);
             |}""".stripMargin
      }
      s"""long[] $w = graft.functions.$walkCall($a);
         |if ($w == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  $pick
         |}""".stripMargin
    })
}

/** Member count (0 for a valid empty archive). */
case class TarMembers(child: Expression)
    extends ArchiveField("TarWalk.walk", TarWalk.walk, IntegerType) {
  override protected def withNewChildInternal(c: Expression): TarMembers =
    copy(child = c)
}

/** Total payload bytes across members (sizes as declared, not padded). */
case class TarPayloadBytes(child: Expression)
    extends ArchiveField("TarWalk.walk", TarWalk.walk, LongType) {
  override protected def withNewChildInternal(c: Expression): TarPayloadBytes =
    copy(child = c)
}

/** First member's name (NUL-trimmed); NULL for an empty archive. */
case class TarFirstName(child: Expression)
    extends ArchiveField("TarWalk.walk", TarWalk.walk, StringType) {
  override protected def withNewChildInternal(c: Expression): TarFirstName =
    copy(child = c)
}

/** All member names in archive order; empty array for a valid empty
  * archive, NULL when corrupt — the WebDataset sample-pairing input. */
case class TarMemberNames(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(bytes: Any): Any = {
    val names = TarWalk.memberNames(bytes.asInstanceOf[Array[Byte]])
    if (names == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      names.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("tarNames")
      s"""org.apache.spark.unsafe.types.UTF8String[] $n =
         |  graft.functions.TarWalk.memberNames($a);
         |if ($n == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util
         |    .GenericArrayData((Object[]) $n);
         |}""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): TarMemberNames =
    copy(child = c)
}

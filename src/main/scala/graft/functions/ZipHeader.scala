package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** PKZIP local-file-header walk as codegen'd Catalyst expressions — the
  * other archive transport next to tar (functions/TarHeader.scala).
  * Format from the public PKWARE APPNOTE: each entry is a 30-byte
  * little-endian local file header — signature 0x04034B50, flags @6,
  * method @8, compressed size @18 (u32), name length @26, extra length
  * @28 — followed by the name, the extra field, and `comp_size` bytes
  * of data; the central directory (signature 0x02014B50) or the
  * end-of-central-directory record (0x06054B50) terminates the entry
  * run. An immediate EOCD is a VALID empty archive.
  *
  * Walk contract (the house never-throw rules):
  *  - flag bit 3 (data descriptor: sizes deferred until after the
  *    data) → NULL: a streaming-written zip cannot be walked from
  *    local headers alone — that is a real property of the format, not
  *    a shortcut, and the decoder says so rather than guessing;
  *  - unknown signature, header or data run past EOF → NULL;
  *  - entry budget 16; one past it → NULL.
  */
object ZipWalk {
  final val EntryBudget = 16

  /** `[entries, compBytes, firstNameOff, firstNameLen]`, or null when
    * rejected. firstNameOff is -1 for an empty archive. */
  def walk(a: Array[Byte]): Array[Long] = {
    var p = 0L
    var entries = 0L
    var comp = 0L
    var nameOff = -1L
    var nameLen = 0L
    var i = 0
    def u16(q: Int): Int = (a(q) & 0xFF) | ((a(q + 1) & 0xFF) << 8)
    def u32(q: Int): Long =
      (u16(q).toLong | (u16(q + 2).toLong << 16)) & 0xFFFFFFFFL
    while (true) {
      if (p + 4 > a.length) return null // no room for any signature
      val q = p.toInt
      val sig = u32(q)
      if (sig == 0x02014B50L || sig == 0x06054B50L) // CD / EOCD: done
        return Array(entries, comp, nameOff, nameLen)
      if (sig != 0x04034B50L) return null // unknown signature
      if (i >= EntryBudget) return null   // beyond budget
      if (p + 30 > a.length) return null  // truncated header
      val flags = u16(q + 6)
      if ((flags & 0x8) != 0) return null // data descriptor: unwalkable
      val csize = u32(q + 18)
      val nl = u16(q + 26)
      val el = u16(q + 28)
      if (p + 30 + nl + el + csize > a.length) return null
      if (entries == 0) { nameOff = p + 30; nameLen = nl.toLong }
      entries += 1
      comp += csize
      p += 30L + nl + el + csize
      i += 1
    }
    null // unreachable
  }
}

/** Entry count (0 for a valid empty archive). */
case class ZipEntries(child: Expression)
    extends ArchiveField("ZipWalk.walk", ZipWalk.walk, IntegerType) {
  override protected def withNewChildInternal(c: Expression): ZipEntries =
    copy(child = c)
}

/** Total compressed bytes across entries (as declared in the LFHs). */
case class ZipCompBytes(child: Expression)
    extends ArchiveField("ZipWalk.walk", ZipWalk.walk, LongType) {
  override protected def withNewChildInternal(c: Expression): ZipCompBytes =
    copy(child = c)
}

/** First entry's name; NULL for an empty archive. */
case class ZipFirstName(child: Expression)
    extends ArchiveField("ZipWalk.walk", ZipWalk.walk, StringType) {
  override protected def withNewChildInternal(c: Expression): ZipFirstName =
    copy(child = c)
}

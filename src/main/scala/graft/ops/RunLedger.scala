package graft.ops

import java.io.{File, FileWriter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The run ledger shared by both composed pipelines — the keyspace
  * copy ([[KeyspaceCopy]], A22) and the c199 curation run
  * ([[CurationRun]]). Each is a resumable run whose finished units
  * are recorded as lines of `<dir>/manifest.tsv`:
  *
  *   `unit \t index \t rows \t checksum \t crc32(first four fields)`
  *
  * where (unit, index) names the finished unit — (table, token range)
  * for the copy, (stage name, stage number) for curation — and
  * (rows, checksum) is the unit's audit: its row count and the
  * order-free a18 content checksum of [[countAndChecksum]]. The
  * module owns how a unit is recorded (the newline rule, the per-line
  * CRC, the torn-tail truncation on append) and how a frame is
  * checksummed, so the two pipelines cannot drift apart on either.
  */
object RunLedger {

  /** Canonical row rendering for hashing: NAME-ordered columns joined
    * by '|', each null-coalesced to '' — the a18 discipline (doubles
    * via DECIMAL(38,6), timestamps via epoch-µs integers, binary via
    * hex) so the rendering never depends on an engine's float or
    * timestamp formatter.
    */
  private[graft] def rowRender(schema: StructType): Column = {
    val frags = schema.fields.sortBy(_.name).map { f =>
      val c = col(f.name)
      val r = f.dataType match {
        case DoubleType | FloatType => c.cast("decimal(38,6)").cast("string")
        case TimestampType | TimestampNTZType =>
          unix_micros(c.cast("timestamp")).cast("string")
        case BinaryType => hex(c)
        case _ => c.cast("string")
      }
      coalesce(r, lit(""))
    }
    concat_ws("|", frags.toIndexedSeq: _*)
  }

  /** A row's a18 hash: the 32-bit md5 prefix of [[rowRender]]. A
    * frame's content checksum is the exact sum of its rows' hashes
    * ([[tally]]), so it cannot overflow at 1e12 rows.
    */
  private[graft] def rowHash(schema: StructType): Column =
    graft.Canon.md5Prefix(rowRender(schema), 1, 8).cast("bigint")

  /** (row count, content checksum) of a frame — one Spark job, see
    * [[tally]]; (0, "0") over no rows.
    */
  private[graft] def countAndChecksum(df: DataFrame): (Long, String) =
    tally(df.select(lit(0), rowHash(df.schema)), 1).getOrElse(0, (0L, "0"))

  /** (row count, content checksum) per tag of `hashes`, a frame of
    * (tag in [0, nTags), [[rowHash]]) rows: the checksum is the exact
    * sum of the tag's hashes, printed as plain digits ("0" over no
    * rows, like a DECIMAL(38,0) sum). ONE Spark job with no shuffle
    * stage of its own: each partition sums into per-tag arrays and the
    * partitions merge in a tree, so the driver gets one array pair
    * however many partitions or tags there are. A tag without rows is
    * absent.
    */
  private[graft] def tally(hashes: DataFrame, nTags: Int): Map[Int, (Long, String)] = {
    val t = hashes.queryExecution.toRdd.treeAggregate(new Tally(nTags))(
      (t, row) => t.add(row.getInt(0), row.getLong(1)), (a, b) => a.merge(b))
    (0 until nTags).filter(t.rows(_) > 0L).map(i => i -> ((t.rows(i), t.sum(i).toString))).toMap
  }

  /** Per-tag row counts and exact sums of non-negative 32-bit hashes:
    * a long per tag, carried into a BigInt before it could wrap.
    */
  private final class Tally(n: Int) extends Serializable {
    val rows = new Array[Long](n)
    private val lo = new Array[Long](n)
    private val hi = Array.fill(n)(BigInt(0))
    def add(tag: Int, hash: Long): Tally = {
      rows(tag) += 1L
      lo(tag) += hash
      if (lo(tag) >= (1L << 62)) { hi(tag) += lo(tag); lo(tag) = 0L }
      this
    }
    def merge(o: Tally): Tally = {
      for (i <- 0 until n if o.rows(i) > 0L) { rows(i) += o.rows(i); hi(i) += o.sum(i) }
      this
    }
    def sum(i: Int): BigInt = hi(i) + lo(i)
  }

  private def manifestFile(dir: String) = new File(dir, "manifest.tsv")

  /** CRC32 (lowercase hex) of a manifest line's payload fields — the
    * in-line corruption guard: the newline rule below proves an append
    * COMPLETED, but a bit flip INSIDE a completed line (disk rot, a
    * partial sector rewrite) still splits into plausible fields and
    * would read as trusted state. The CRC covers exactly the four
    * payload fields as written, so any single-byte change in unit,
    * index, rows or checksum mismatches and the line demotes to
    * incomplete — the safe direction (the unit re-runs).
    */
  private[graft] def lineCrc(payload: String): String = {
    val crc = new java.util.zip.CRC32
    crc.update(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(crc.getValue)
  }

  /** Completed units from the manifest: NEWLINE-TERMINATED lines that
    * parse as exactly (unit, index, rows, checksum, crc) with the CRC
    * matching the first four fields; the LAST line per unit wins. The
    * terminator check matters: a killed JVM can tear the final append
    * anywhere — including INSIDE the checksum field, where the
    * surviving prefix still splits into plausible fields — so field
    * count alone cannot prove the append completed; only the trailing
    * '\n' (the last byte the writer emits) can. The per-line CRC then
    * proves the line's CONTENT is the content the writer emitted (a
    * bit flip inside an otherwise complete line fails it). An
    * untrusted line is treated as incomplete — the safe direction,
    * because re-running a unit is idempotent. Numeric fields (the
    * checksum too) are bounded ASCII digit runs (`isDigit` accepts Unicode digits
    * `toInt` rejects, and an overlong run overflows Long) and the
    * parses ride in Try, so a corrupted line SKIPS instead of aborting
    * the resume. Version branch by field count: pre-CRC keyspace
    * manifests wrote 4 fields and still parse (their lines carry no
    * CRC to check) — a manifest written by an older build resumes
    * under this one.
    */
  private[graft] def readManifest(dir: String): Map[(String, Int), (Long, String)] = {
    val f = manifestFile(dir)
    if (!f.exists()) Map.empty
    else {
      val raw = new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val complete = raw.substring(0, raw.lastIndexOf('\n') + 1)
      def asciiDigits(s: String, maxLen: Int): Boolean =
        s.nonEmpty && s.length <= maxLen && s.forall(c => c >= '0' && c <= '9')
      complete.split("\n").iterator.flatMap { line =>
        line.split("\t", -1) match {
          // index ≤ 4 digits (nRanges ≤ 4096); rows ≤ 18 digits
          // (< Long.MaxValue's 19) so toLong cannot overflow; checksum
          // ≤ 38 digits, the a18 canon (a DECIMAL(38,0) sum of
          // non-negative hashes, "0" over no rows).
          case Array(t, r, n, cs, crc)
              if asciiDigits(r, 4) && asciiDigits(n, 18) && asciiDigits(cs, 38) &&
                crc == lineCrc(s"$t\t$r\t$n\t$cs") =>
            scala.util.Try((t, r.toInt) -> (n.toLong, cs)).toOption
          // Legacy pre-CRC line. The checksum's digit rule is its only
          // content guard: a CRC line whose last tab is corrupted also
          // splits into 4 fields, with the CRC glued onto the checksum.
          case Array(t, r, n, cs)
              if asciiDigits(r, 4) && asciiDigits(n, 18) && asciiDigits(cs, 38) =>
            scala.util.Try((t, r.toInt) -> (n.toLong, cs)).toOption
          case _ => None
        }
      }.toMap
    }
  }

  /** Durable append of one completed unit: open → write → flush →
    * close per line, so the cursor survives the very next kill. If a
    * previous kill left a torn (newline-less) fragment at the tail,
    * the fragment is TRUNCATED first — appending straight after it
    * would concatenate this line into garbage, and merely terminating
    * it with '\n' would LEGITIMIZE a tear that happens to split into
    * 4 plausible fields (a truncated checksum would then read as
    * trusted — the exact failure readManifest's newline rule exists
    * to prevent). The fragment's unit was never recorded complete, so
    * dropping the bytes loses nothing: the unit re-runs.
    *
    * The tear probe is O(1) per append: one seek to the final byte.
    * A torn tail exists only immediately after a kill, so the
    * whole-file backward scan for the last newline runs at most once
    * per resume, never on the hot append path — the old
    * readAllBytes-per-append probe made the copy loop O(n²) in
    * completed units (~40k appends at nRanges=4096). Callers that
    * append from several threads serialize the calls.
    */
  private[graft] def appendManifest(
      dir: String, unit: String, index: Int, rows: Long, checksum: String): Unit = {
    val f = manifestFile(dir)
    if (f.exists() && f.length() > 0) {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try {
        raf.seek(raf.length() - 1)
        if (raf.read() != '\n') {
          // Rare path (post-kill only): find the last complete line.
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val keep = bytes.lastIndexOf('\n'.toByte) + 1
          raf.setLength(keep.toLong)
        }
      } finally raf.close()
    }
    val payload = s"$unit\t$index\t$rows\t$checksum"
    val w = new FileWriter(f, true)
    try { w.write(s"$payload\t${lineCrc(payload)}\n"); w.flush() }
    finally w.close()
  }
}

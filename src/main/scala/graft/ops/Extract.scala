package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source extraction (etl/extract.py re-expressed Spark-first).
  *
  * CSV reads always use an explicit schema (never inference) per the
  * declared-contract model (SURVEY §1.2); header row is validated
  * against the contract by the schema gate instead of trusting
  * inference.
  */
object Extract {

  /** S2: fail fast if the path is missing / not a file / not decodable
    * as UTF-8 (etl/extract.py:42-61). Driver-side filesystem checks —
    * this runs before any job is scheduled, mirroring the reference's
    * pre-read gate. Only the first 64 KiB are sniffed for UTF-8
    * validity so the check stays O(1) regardless of file size. */
  def precheckSource(path: String): Unit = {
    val p = Paths.get(path)
    if (!Files.exists(p))
      throw new DataQualityException(s"source file not found: $path")
    if (!Files.isRegularFile(p))
      throw new DataQualityException(s"source path is not a file: $path")
    val fileLen = Files.size(p)
    val sniffLen = math.min(fileLen, 64 * 1024L).toInt
    val in = Files.newInputStream(p)
    try {
      val buf = in.readNBytes(sniffLen)
      // When the window cuts the file mid-stream, shrink it to the last
      // complete UTF-8 boundary and strict-decode everything up to it:
      // ONLY a well-formed multibyte char cut off by the window edge is
      // tolerated — malformed bytes anywhere in the window still fail.
      val strictLen =
        if (sniffLen < fileLen) lastCompleteUtf8Boundary(buf) else buf.length
      val dec = StandardCharsets.UTF_8.newDecoder()
      try dec.decode(java.nio.ByteBuffer.wrap(buf, 0, strictLen))
      catch {
        case _: java.nio.charset.CharacterCodingException =>
          throw new DataQualityException(s"source file is not UTF-8: $path")
      }
    } finally in.close()
  }

  /** Length of the longest prefix of `buf` ending on a complete UTF-8
    * character boundary. Backs over at most 3 trailing continuation
    * bytes; the trailing sequence is excluded only when it is a VALID
    * PARTIAL character — a well-formed lead whose present continuation
    * bytes all fall in their constrained ranges (RFC 3629 table:
    * C2-DF, E0 A0-BF, E1-EC 80-BF, ED 80-9F, EE-EF 80-BF, F0 90-BF,
    * F1-F3 80-BF, F4 80-8F) but with fewer than it declares (a char
    * cut off by the window). Any other trailing shape — invalid or
    * overlong lead (C0/C1/F5+), an out-of-range second byte like
    * E0 80 or F4 90, bare continuations, a complete char — is kept so
    * strict decoding judges it. */
  private[ops] def lastCompleteUtf8Boundary(buf: Array[Byte]): Int = {
    val n = buf.length
    var i = n - 1
    var cont = 0
    while (i >= 0 && cont < 3 && (buf(i) & 0xC0) == 0x80) { i -= 1; cont += 1 }
    if (i < 0) return n // all continuation bytes: malformed, decode fails
    val b = buf(i) & 0xFF
    val declared =
      if (b >= 0xC2 && b <= 0xDF) 2
      else if (b >= 0xE0 && b <= 0xEF) 3
      else if (b >= 0xF0 && b <= 0xF4) 4
      else 1 // ASCII, bare continuation, or invalid lead (C0/C1/F5+):
             // keep everything, strict decode gives the verdict
    val have = n - i
    if (declared <= have) return n // complete (or invalid): decode judges
    // cut-off candidate: every present continuation must be in range
    val second = if (have >= 2) buf(i + 1) & 0xFF else -1
    val secondOk = second == -1 || (b match {
      case 0xE0 => second >= 0xA0 && second <= 0xBF
      case 0xED => second >= 0x80 && second <= 0x9F
      case 0xF0 => second >= 0x90 && second <= 0xBF
      case 0xF4 => second >= 0x80 && second <= 0x8F
      case _ => second >= 0x80 && second <= 0xBF
    })
    val restOk = (2 until have).forall { j =>
      val c = buf(i + j) & 0xFF; c >= 0x80 && c <= 0xBF
    }
    if (secondOk && restOk) i // genuine cut-off char: tolerate
    else n // malformed prefix: keep it so strict decoding fails
  }

  /** S1: read a headered CSV with an explicit schema
    * (etl/extract.py:161). `mode=FAILFAST` surfaces malformed rows
    * eagerly, matching the reference's fail-on-read posture. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(path)

  /** Full extract stage: precheck, read, then the reference's sanity
    * gates in its eager order (etl/extract.py:138-175):
    * schema match -> non-empty -> null-fraction -> full-row dups, the
    * last three from one job ([[Gates.requireSourceGates]]).
    * Returns (frame, rowCount). */
  def extractCsv(spark: SparkSession, path: String, schema: StructType,
                 expectedColumns: Seq[String]): (DataFrame, Long) = {
    precheckSource(path)
    val df = readCsv(spark, path, schema)
    Gates.requireSchemaMatch(df, expectedColumns)
    (df, Gates.requireSourceGates(df))
  }
}

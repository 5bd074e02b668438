package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.{BufferedWriter, FileWriter}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Result normalisation shared by the in-run fingerprint and the dump
  * the output checker reads. Timestamps become epoch microseconds (the
  * session and the JVM run in UTC), arrays and rows become lists.
  */
object Results {
  val mapper = new ObjectMapper()

  def plain(v: Any): AnyRef = v match {
    case null => null
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case t: java.sql.Timestamp => java.lang.Long.valueOf(t.getTime * 1000 + (t.getNanos / 1000) % 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      java.lang.Long.valueOf(i.getEpochSecond * 1000000 + i.getNano / 1000)
    case s: scala.collection.Seq[_] => s.map(plain).asJava
    case r: Row => r.toSeq.map(plain).asJava
    case o => o.asInstanceOf[AnyRef]
  }

  /** Order-insensitive fingerprint: row count plus the sum of per-row
    * hashes, doubles rounded to 9 significant digits so a different
    * summation order between two runs of one query does not differ.
    */
  def fingerprint(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case o => String.valueOf(plain(o))
    }
    var sum = 0L
    rows.foreach(r => sum += scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong)
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  def rowsJson(rows: Array[Row]): java.util.List[AnyRef] = new java.util.ArrayList(rows.toSeq.map(plain).asJava)
}

/** JSON-lines file of results the output checker compares against an
  * independent reference. Each entry says how many timed ops it stands
  * for, so a mismatch is charged to all of them.
  *
  * `corrupt` is the checker's self-test: the first entry's result loses
  * its last row (or gains a row when empty), which the checker must catch.
  */
final class CheckWriter(path: String, corrupt: Boolean) {
  private val out = new BufferedWriter(new FileWriter(path))
  private var n = 0

  def entry(fields: (String, Any)*): Unit = synchronized {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    fields.foreach { case (k, v) => m.put(k, v match {
      case s: Seq[_] => s.map(x => Results.plain(x)).asJava
      case x => Results.plain(x)
    }) }
    if (corrupt && n == 0) m.get("rows") match {
      case rows: java.util.List[AnyRef] @unchecked if !rows.isEmpty => rows.remove(rows.size - 1)
      case rows: java.util.List[AnyRef] @unchecked => rows.add(java.util.Arrays.asList[AnyRef](null))
      case _ =>
    }
    out.write(Results.mapper.writeValueAsString(m))
    out.newLine()
    n += 1
  }

  def close(): Unit = out.close()
}

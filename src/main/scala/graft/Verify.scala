package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full set)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // A query that throws must stay VISIBLE: in r9 a throwing query
    // wrote nothing and simply vanished from CORRECTNESS (132→120
    // entries, unannounced). Now every failure leaves (a) a `_FAILED`
    // marker file inside the query's output dir — so a driver that
    // tries to read the parquet gets a loud error, not a missing key —
    // and (b) an entry in outDir/errors.json with the message.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ")
        // purge any partial write first: a mid-write failure must not
        // leave readable part-files next to the marker, or a driver
        // that only globs *.parquet would score the fragment as the
        // query's output
        val qDir = new java.io.File(s"$outDir/$name")
        def purge(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(purge)); x.delete(); ()
        }
        purge(qDir)
        // if anything survived the purge (open handle, permission), the
        // fragments must not stay under outDir at all — a driver that
        // iterates output dirs would score or trip over them; quarantine
        // them in the system tmpdir instead
        if (qDir.exists && Option(qDir.listFiles()).exists(_.nonEmpty)) {
          val aside = new java.io.File(
            s"${System.getProperty("java.io.tmpdir")}/graft_partial_" +
              s"${java.lang.ProcessHandle.current().pid()}_$name")
          if (!qDir.renameTo(aside))
            System.err.println(
              s"[verify] WARNING: partial output for $name could not be " +
                "purged or moved; driver may score a fragment")
        }
        qDir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local iteration)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val newPairs = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => k -> s"${q(k)}: ${q(v)}" }
    val outFile = Paths.get(s"$outDir/oracle_sql.json")
    // Filtered runs MERGE into an existing oracle_sql.json rather than
    // truncating it: overwriting would leave the other queries' parquet
    // dumps in place but silently drop them from the verify_local gate.
    // Parsing is over our own writer's exact flat format (keys are query
    // names, values fully escaped one-line strings).
    // Linear scan, not a regex: alternation quantifiers stack-overflow
    // Java's regex engine on the ~100 KB escaped SQL values.
    def rawPairs(s: String): Seq[(String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def stringEnd(start: Int): Int = { // start = opening quote; returns index past closing
        var j = start + 1
        while (j < s.length && s(j) != '"') j += (if (s(j) == '\\') 2 else 1)
        j + 1
      }
      var i = 0
      while (i < s.length) {
        if (s(i) == '"') {
          val kEnd = stringEnd(i)
          var j = kEnd
          while (j < s.length && (s(j) == ':' || s(j) == ' ')) j += 1
          if (j < s.length && s(j) == '"') {
            val vEnd = stringEnd(j)
            out += ((s.substring(i + 1, kEnd - 1), s.substring(i, vEnd)))
            i = vEnd
          } else i = kEnd
        } else i += 1
      }
      out.toSeq
    }
    val pairs: Seq[String] =
      if (only.isDefined && Files.exists(outFile)) {
        // Keep only entries still in the live registry: a query renamed or
        // deleted since the last full run would otherwise leave a stale key
        // (and stale parquet dump) that the gate compares forever.
        val kept = rawPairs(Files.readString(outFile))
          .filterNot(p => newPairs.contains(p._1))
          .filter(p => SparkEntry.oracleSql.contains(p._1))
          .map(_._2)
        kept ++ newPairs.values.toSeq
      } else newPairs.values.toSeq
    Files.writeString(outFile, pairs.mkString("{", ",", "}"))
    spark.stop()
  }
}

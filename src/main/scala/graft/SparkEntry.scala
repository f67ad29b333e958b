package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.{HardExec, OracleSql}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * kg_2p: two-hop path query (customers in region 0) through the derived
    * KG edges view. */
  def entry(spark: SparkSession): DataFrame = {
    val (_, lstr, b) = KGQueries.all.find(_._1 == "kg_2p").get
    HardExec.run(spark, "/root/testdata/sf0.001", lstr, b)
  }

  /** Every row once: (name, query fn, optional DuckDB oracle SQL). The KG
    * rows' oracle is their formula rendered as SQL. */
  private lazy val rows: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = {
    val kg = KGQueries.all.map { case (name, lstr, b) =>
      (name, (s: SparkSession, dir: String) => HardExec.run(s, dir, lstr, b),
       Some(OracleSql.formulaSql(lstr, b)))
    }
    val all = kg ++ PipelineQueries.entries ++ SystemQueries.entries ++
      OperatorQueries.entries ++ LayoutQueries.entries ++
      AacQueries.entries ++ FlacQueries.entries
    requireUnique(all.map(_._1))
    all
  }

  /** Refuses a repeated row name: the maps below would keep only the last
    * row of that name and drop the others without a word. */
  private[graft] def requireUnique(names: Seq[String]): Unit = {
    val repeated = names.diff(names.distinct).distinct.sorted
    require(repeated.isEmpty, s"repeated query names: ${repeated.mkString(", ")}")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map { case (name, fn, _) => name -> fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    rows.collect { case (name, _, Some(sql)) => name -> sql }.toMap
}

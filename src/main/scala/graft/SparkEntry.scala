package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure function (SparkSession, sfDir) =>
  * DataFrame over the driver corpus (TESTDATA.md). Entries with a DuckDB
  * twin in [[oracleSql]] are hash-compared by the driver at sf0.01; the
  * rest get a rows>0 check. All oracle'd queries end in a total order and
  * use exact types (BIGINT counts, DECIMAL-exact sums surfaced as double)
  * so the compare is deterministic (SURVEY.md §7 "hard parts").
  */
object SparkEntry extends SparkEntryOracles3 {
  /** One entry per implemented operator from SURVEY.md §2 (merged from
    * the per-family registry traits — the round-12 mechanical split of
    * the former 11 kLoC single file). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesChunk1 ++ queriesChunk2 ++ queriesChunk3

  def oracleSql: Map[String, String] =
    oracleChunk1 ++ oracleChunk2 ++ oracleChunk3

  /** The registry slice a Bench or Verify run covers: `None` for every
    * query, or the names in `spec`, a comma-separated list (the
    * `SPARK_GRAFT_ONLY` variable by default). A name the registry lacks
    * throws, so a typo cannot shrink a run to an empty but clean-looking
    * result. */
  def only(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Option[Map[String, (SparkSession, String) => DataFrame]] =
    spec.map { s =>
      val all = queries
      val names = s.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains)
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY names no query: '$s'")
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names unknown queries: " +
        unknown.toSeq.sorted.mkString(", "))
      all.filter { case (name, _) => names(name) }
    }
}

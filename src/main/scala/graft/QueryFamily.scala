package graft

import graft.QueryUtils.QFn

/** One family of declared queries: its `queries` map of
  * `(SparkSession, sfDir) => DataFrame` builders and the matching
  * DuckDB `oracles` map (query name → SQL). Every oracle names a query
  * of the same family; a query may lack an oracle only when its result
  * is engine-specific (the sketch exemptions QueriesSpec declares).
  * [[SparkEntry.families]] lists every family once.
  */
trait QueryFamily {
  def queries: Map[String, QFn]
  def oracles: Map[String, String]

  /** Family name in error messages: the object's simple name. */
  def familyName: String = getClass.getSimpleName.stripSuffix("$")
}

object QueryFamily {

  /** The merged surface of a list of families. */
  final case class Registry(queries: Map[String, QFn], oracleSql: Map[String, String])

  /** Merges `families` into one registry. Fails, naming each offender
    * and its families, when a query or oracle name is registered by two
    * families (a plain `++` would keep one silently) or when an oracle
    * has no query in its own family. */
  def registry(families: Seq[QueryFamily]): Registry = {
    def clashes(keys: QueryFamily => Iterable[String]): Seq[String] =
      families.flatMap(f => keys(f).map(_ -> f.familyName))
        .groupBy(_._1).collect { case (k, fs) if fs.size > 1 =>
          s"$k (${fs.map(_._2).mkString(", ")})" }
        .toSeq.sorted
    val dupQueries = clashes(_.queries.keys)
    require(dupQueries.isEmpty,
      s"query names registered by more than one family: ${dupQueries.mkString("; ")}")
    val dupOracles = clashes(_.oracles.keys)
    require(dupOracles.isEmpty,
      s"oracle names registered by more than one family: ${dupOracles.mkString("; ")}")
    val orphans = families.flatMap(f =>
      (f.oracles.keySet -- f.queries.keySet).toSeq.sorted.map(k => s"$k (${f.familyName})"))
    require(orphans.isEmpty,
      s"oracles with no query in their own family: ${orphans.mkString("; ")}")
    Registry(families.flatMap(_.queries).toMap, families.flatMap(_.oracles).toMap)
  }
}

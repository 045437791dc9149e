package graft.queries

/** The DuckDB spellings of the engine's portable text and number
  * primitives, shared by every oracle that needs them. Each renders
  * exactly what its Spark twin computes, so an oracle built from them
  * hash-matches the query without per-file copies drifting apart.
  */
private[queries] object OracleSql {

  /** Whitespace tokens of `text`: the twin of
    * [[graft.functions.Portable.wsTokens]].
    */
  val tokSql: String = raw"string_split_regex(trim(text), '\s+')"

  /** Engine-portable integer cents, `floor(e * scale + 0.5)`: the twin of
    * [[graft.ext.Stats.cents]].
    */
  def centsSql(e: String, scale: Int = 100): String =
    s"CAST(floor($e * $scale + 0.5) AS BIGINT)"

  /** The first 60 bits of md5(e) as a BIGINT: the twin of
    * [[graft.functions.Portable.hash60]].
    */
  def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
}

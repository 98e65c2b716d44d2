package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, regexp_replace, substring, url_decode}

/** Row identity for position deletes, shared by native DVs, Delta DVs and
  * Iceberg position-delete files: a row is (file key, row index), and a
  * deleted row is hidden by a left-anti join on that pair.
  *
  * The file key is the file's local path, and this is the one place it is
  * derived. A scan reports each file as a URI: [[fileKey]] strips the
  * `file:` scheme, shields '+' (a literal plus in a URI path, not an
  * encoded space), %-decodes the rest, and cuts off the `under` directory
  * prefix (`""` keeps the path absolute). A table's metadata records a
  * location instead, which the scan opens as is: [[locationKey]] only
  * strips the scheme, so a directory Spark named `k=50%25` keys the same
  * from both sides. Writers that record positions and readers that apply
  * them both derive the key here, so the two can never disagree on a path
  * containing '+', '%' or a space. Each format keeps its own producer of
  * the (key, position) relation. */
object RowDeletes {

  /** Row-identity columns [[dropPositions]] reads from, or derives onto,
    * the data side. */
  val File = "__p"
  val Row = "__ri"

  /** Column names of the (key, position) relation a producer hands to
    * [[dropPositions]]. */
  val DelFile = "__dv_path"
  val DelRow = "__dv_pos"

  /** The file key of a URI column (SQL side). */
  def fileKey(c: Column, under: String): Column = {
    val abs = url_decode(regexp_replace(locationKey(c), "\\+", "%2B"))
    if (under.isEmpty) abs else substring(abs, under.length + 2, Int.MaxValue)
  }

  /** The file key of a URI string (driver side): the twin of the Column
    * form, char for char. */
  def fileKey(uri: String, under: String): String = {
    val abs = java.net.URLDecoder.decode(
      locationKey(uri).replace("+", "%2B"), "UTF-8")
    if (under.isEmpty) abs else abs.drop(under.length + 1)
  }

  /** The file key of each row's backing data file in a file scan. */
  def scanFileKey(under: String): Column =
    fileKey(col("_metadata.file_path"), under)

  /** The absolute file key of a location column: the scheme stripped,
    * nothing decoded. */
  def locationKey(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  /** Driver twin of the location Column form. */
  def locationKey(p: String): String = p.replaceFirst("^file:/+", "/")

  /** `raw` without the rows `positions` names: a left-anti join on
    * (file key, row index), plus `scope` when the format limits which
    * positions apply to which rows (Iceberg's sequence numbers).
    * `positions` carries [[DelFile]] and [[DelRow]] (and whatever `scope`
    * reads). An identity column `raw` already carries ([[File]],
    * [[Row]]: a union of scans has no `_metadata`) is used and kept; a
    * missing one is derived from the scan's `_metadata`, keyed under
    * `under`, and dropped after the join. */
  def dropPositions(raw: DataFrame, under: String, positions: DataFrame,
      scope: Option[Column] = None): DataFrame = {
    val derived = Seq(File, Row).filterNot(raw.columns.contains)
    val keyed = derived.foldLeft(raw) {
      case (df, File) => df.withColumn(File, scanFileKey(under))
      case (df, _)    => df.withColumn(Row, col("_metadata.row_index"))
    }
    val on = col(File) === col(DelFile) && col(Row) === col(DelRow)
    keyed.join(positions, scope.fold(on)(on && _), "left_anti")
      .drop(derived: _*)
  }
}

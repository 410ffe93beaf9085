package graft.sink

/** Changelog→table materialization mode, selected from (primary key
  * present?) × (collapsing/replacing field options) exactly like the
  * reference's builder
  * (CH/table/internal/AbstractClickHouseOutputFormat.java:126-164):
  *
  *  - PK + table.collapsing.field  -> Collapsing (sign column appended)
  *  - PK + table.replacing.field   -> Replacing (deleted flag appended)
  *  - otherwise                    -> InsertOnly (D/-U rows dropped)
  *
  * Collapsing wins if both fields are set (the reference checks it first),
  * but — mirroring the field-append loop at :84-119 — BOTH extra column
  * names are appended to the insert field list in that case.
  */
sealed trait WriteMode
object WriteMode {
  case object InsertOnly extends WriteMode
  case object Collapsing extends WriteMode
  case object Replacing extends WriteMode

  def dispatch(options: GraftSinkOptions, hasPrimaryKey: Boolean): WriteMode =
    if (hasPrimaryKey && options.collapsingField.isDefined) Collapsing
    else if (hasPrimaryKey && options.replacingField.isDefined) Replacing
    else InsertOnly

  /** The physical column list for the INSERT statement: user fields plus
    * any sign/flag columns (AbstractClickHouseOutputFormat.java:84-119 —
    * both are appended when both options are present with a PK).
    */
  def insertFieldNames(options: GraftSinkOptions, hasPrimaryKey: Boolean,
      fieldNames: Seq[String]): Seq[String] = {
    var out = fieldNames
    if (hasPrimaryKey && options.collapsingField.isDefined)
      out = out :+ options.collapsingField.get
    if (hasPrimaryKey && options.replacingField.isDefined)
      out = out :+ options.replacingField.get
    out
  }

  /** R2's changelog negotiation (ClickHouseDynamicTableSink.java:34-38):
    * a stream that is not insert-only requires a primary key.
    */
  def validateChangelog(hasPrimaryKey: Boolean, insertOnlyStream: Boolean): Unit =
    if (!insertOnlyStream && !hasPrimaryKey)
      throw new IllegalStateException(
        "Please declare primary key for sink table when query contains " +
          "update/delete record.")
}

package graft.mapping

import graft.sources.salesforce.CsvWire
import graft.types.{SfField, SfSchema}

/** The analyst-editable column-selection config: `mapping/<Table>.csv`
  * with per-field Import/Indexed flags and notes
  * (`tabledesc.py:96-204`). Drives the select-list pushed into the
  * source scan (column pruning at the connector boundary).
  */
final case class MappingEntry(
    fieldName: String,
    importFlag: Boolean,
    indexed: Boolean,
    note: String)

object Mapping {

  /** Parse a mapping CSV (header + rows of `"Field","1","","note"`).
    * Quote-doubling dialect, same as the reference's csv module output,
    * decoded by [[CsvWire]], the Bulk result decoder.
    */
  def parse(lines: Seq[String]): Seq[MappingEntry] =
    CsvWire.parseRows(new java.io.StringReader(lines.mkString("\n"))).drop(1)
      .map { cells =>
        MappingEntry(
          fieldName = cells.headOption.getOrElse(""),
          importFlag = cells.lift(1).exists(_.trim == "1"),
          indexed = cells.lift(2).exists(_.trim == "1"),
          note = cells.lift(3).getOrElse(""))
      }.toSeq

  /** Render the mapping CSV for a described table
    * (`tabledesc.py:147-204`): all importable fields flagged unless
    * `minimal`; calculated/compound fields never importable, annotated.
    */
  def generate(fields: Seq[SfField], minimal: Boolean = false): Seq[String] = {
    val header = "\"FieldName\",\"Import\",\"Indexed\",\"Note\""
    val hasDurable = fields.exists(_.name == "DurableId")
    val rows = fields.map { f =>
      val note =
        if (f.calculated) "calculated"
        else if (f.compoundFieldName.isDefined) "compound"
        else ""
      val importable = note.isEmpty && !(hasDurable && f.name == "Id")
      val selected = importable &&
        (!minimal || SfSchema.MinimalFields.contains(f.name))
      Seq(
        quote(f.name),
        if (selected) "\"1\"" else "\"\"",
        if (f.isIndexed && selected) "\"1\"" else "\"\"",
        quote(note)).mkString(",")
    }
    header +: rows
  }

  /** The select list a mapping implies, in describe order. */
  def selectedColumns(fields: Seq[SfField], mapping: Seq[MappingEntry]): Seq[String] = {
    val wanted = mapping.filter(_.importFlag).map(_.fieldName).toSet
    fields.map(_.name).filter(wanted.contains)
  }

  /** Indexed-flag set (drives secondary-index DDL, S6/J3 semantics). */
  def indexedColumns(mapping: Seq[MappingEntry]): Set[String] =
    mapping.filter(e => e.importFlag && e.indexed).map(_.fieldName).toSet

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
}

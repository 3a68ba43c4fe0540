package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.types.{SfField, SfSchema, UnsupportedTypeException}
import graft.mapping.{Mapping, MappingEntry}
import graft.sink.PgDialect

/** Golden tests for the type system (SURVEY.md §1.2), identity rules,
  * mapping CSV round-trip, and PG SQL generation — pure functions, no
  * Spark session needed.
  */
class TypesSpec extends AnyFunSuite {

  test("SF type -> Spark DataType table (§1.2)") {
    assert(SfSchema.sparkType(SfField("A", "string", length = 40)) == StringType)
    assert(SfSchema.sparkType(SfField("A", "picklist")) == StringType)
    assert(SfSchema.sparkType(SfField("A", "int")) == IntegerType)
    assert(SfSchema.sparkType(SfField("A", "date")) == DateType)
    assert(SfSchema.sparkType(SfField("A", "datetime")) == TimestampType)
    assert(SfSchema.sparkType(SfField("A", "boolean")) == BooleanType)
    assert(SfSchema.sparkType(SfField("A", "currency", precision = 18, scale = 2)) ==
      DecimalType(18, 2))
    assert(SfSchema.sparkType(SfField("A", "double")) == DoubleType)
    assert(SfSchema.sparkType(SfField("A", "percent")) == DoubleType)
    assert(SfSchema.sparkType(SfField("A", "anyType")) == StringType)
    intercept[UnsupportedTypeException](SfSchema.sparkType(SfField("A", "location")))
  }

  test("SF type -> PG DDL type (createtable.py:13-35)") {
    assert(SfSchema.pgType(SfField("A", "email", length = 80)) == "VARCHAR(80)")
    assert(SfSchema.pgType(SfField("A", "multipicklist")) == "TEXT")
    assert(SfSchema.pgType(SfField("A", "currency", precision = 16, scale = 4)) ==
      "NUMERIC(16, 4)")
    assert(SfSchema.pgType(SfField("A", "double")) == "DOUBLE PRECISION")
    assert(SfSchema.pgType(SfField("A", "datetime")) == "TIMESTAMP")
  }

  test("address compound explodes to 7 mangled scalars (createtable.py:52-71)") {
    val st = SfSchema.addressStruct("MailingAddress")
    assert(st.fieldNames.toSeq == Seq("MailingStreet", "MailingCity", "MailingState",
      "MailingPostalCode", "MailingCountry", "MailingLatitude", "MailingLongitude"))
    assert(st("MailingLatitude").dataType == DoubleType)
  }

  test("PK rule: DurableId over Id; error when neither (tabledesc.py:206-213)") {
    val withBoth = Seq(SfField("Id", "id"), SfField("DurableId", "string"))
    assert(SfSchema.pkName(withBoth) == "DurableId")
    assert(SfSchema.pkName(Seq(SfField("Id", "id"))) == "Id")
    intercept[IllegalArgumentException](SfSchema.pkName(Seq(SfField("X", "string"))))
  }

  test("Id dropped entirely when DurableId exists (createtable.py:102-103)") {
    val fields = Seq(SfField("Id", "id"), SfField("DurableId", "string", length = 18),
      SfField("Name", "string", length = 80))
    assert(SfSchema.defaultSelection(fields).map(_.name) == Seq("DurableId", "Name"))
  }

  test("CDC timestamp rule incl. both spellings (tabledesc.py:215-225)") {
    def f(n: String) = SfField(n, "datetime")
    assert(SfSchema.timestampColumn(Seq(f("CreatedDate"), f("SystemModStamp"))) ==
      "SystemModStamp")
    assert(SfSchema.timestampColumn(Seq(f("SystemModstamp"), f("CreatedDate"))) ==
      "SystemModstamp")
    assert(SfSchema.timestampColumn(Seq(f("CreatedDate"), f("LastModifiedDate"))) ==
      "LastModifiedDate")
    assert(SfSchema.timestampColumn(Seq(f("CreatedDate"))) == "CreatedDate")
    intercept[IllegalArgumentException](SfSchema.timestampColumn(Seq(f("Other"))))
  }

  test("calculated and compound-member fields excluded (tabledesc.py:176-193)") {
    val fields = Seq(
      SfField("Id", "id"),
      SfField("Formula__c", "string", calculated = true),
      SfField("MailingStreet", "string", compoundFieldName = Some("MailingAddress")),
      SfField("Name", "string"))
    assert(SfSchema.defaultSelection(fields).map(_.name) == Seq("Id", "Name"))
  }

  test("CREATE TABLE DDL: PK, NOT NULL, DEFAULT, UNIQUE") {
    val fields = Seq(
      SfField("Id", "id", length = 18, nillable = false),
      SfField("Active", "boolean", nillable = false, defaultValue = Some(true)),
      SfField("Email", "email", length = 80, unique = true))
    val ddl = SfSchema.createTableDdl("salesforce", "Contact", fields)
    assert(ddl.contains("Id VARCHAR(18) PRIMARY KEY"))
    assert(ddl.contains("Active BOOLEAN NOT NULL DEFAULT true"))
    assert(ddl.contains("Email VARCHAR(80) UNIQUE"))
  }

  test("bootstrap script: table + index + GRANT (createtable.py:87-127)") {
    val fields = Seq(
      SfField("Id", "id", length = 18, nillable = false),
      SfField("Email", "email", length = 80, unique = true, isIndexed = true),
      SfField("Name", "string", length = 80, isIndexed = true))
    val script = SfSchema.createScript("salesforce", "Contact", fields,
      mappingIndexed = Set("Email"), grantTo = Some("readers"))
    assert(script.length == 3)
    assert(script(0).startsWith("CREATE TABLE salesforce.Contact"))
    // only mapping ∩ SF-indexed gets an index; the PK never does
    assert(script(1) == "CREATE INDEX ON salesforce.Contact (Email)")
    assert(script(2) == "GRANT SELECT ON salesforce.Contact TO readers")
    // no grantee configured -> no GRANT statement (config.py:35 default)
    assert(SfSchema.createScript("salesforce", "Contact", fields,
      Set("Email")).length == 2)
  }

  test("sql const rendering escapes quotes (createtable.py:38-45)") {
    assert(SfSchema.sqlConst("o'brien") == "'o''brien'")
    assert(SfSchema.sqlConst(false) == "false")
    assert(SfSchema.sqlConst(42) == "42")
  }

  test("mapping CSV generate/parse round-trip with flags and notes") {
    val fields = Seq(
      SfField("Id", "id", isIndexed = true),
      SfField("Name", "string", isIndexed = true),
      SfField("Formula__c", "string", calculated = true),
      SfField("BillingStreet", "string", compoundFieldName = Some("BillingAddress")))
    val csv = Mapping.generate(fields)
    val parsed = Mapping.parse(csv)
    assert(parsed.map(_.fieldName) == Seq("Id", "Name", "Formula__c", "BillingStreet"))
    assert(parsed.filter(_.importFlag).map(_.fieldName) == Seq("Id", "Name"))
    assert(parsed.find(_.fieldName == "Formula__c").exists(_.note == "calculated"))
    assert(parsed.find(_.fieldName == "BillingStreet").exists(_.note == "compound"))
    assert(Mapping.indexedColumns(parsed) == Set("Id", "Name"))
  }

  test("minimal preset selects only the five system fields (tabledesc.py:156-158)") {
    val fields = Seq("Id", "CreatedDate", "IsDeleted", "SystemModstamp", "Name", "Email")
      .map(n => SfField(n, "string"))
    val parsed = Mapping.parse(Mapping.generate(fields, minimal = true))
    assert(parsed.filter(_.importFlag).map(_.fieldName) ==
      Seq("Id", "CreatedDate", "IsDeleted", "SystemModstamp"))
  }

  test("mapping CSV handles embedded quotes and commas") {
    val parsed = Mapping.parse(Seq("\"FieldName\",\"Import\",\"Indexed\",\"Note\"",
      "\"a,b\",\"say \"\"hi\"\"\",plain",
      "\"Name\",\"1\",\"1\",\"say \"\"hi\"\", twice\""))
    assert(parsed == Seq(
      MappingEntry("a,b", importFlag = false, indexed = false, note = ""),
      MappingEntry("Name", importFlag = true, indexed = true, note = "say \"hi\", twice")))
  }

  test("PG merge SQL golden strings (query_poll_table.py:119-152)") {
    val d = new PgDialect()
    val up = d.upsertSql("\"salesforce\".\"Contact\"", "\"tmp\"",
      Seq("Id", "Name", "IsDeleted"), "Id", "SystemModstamp", Some("IsDeleted"))
    assert(up ==
      "INSERT INTO \"salesforce\".\"Contact\" AS d (\"Id\", \"Name\", \"IsDeleted\")" +
        " SELECT \"Id\", \"Name\", \"IsDeleted\" FROM \"tmp\" WHERE NOT \"IsDeleted\"" +
        " ON CONFLICT (\"Id\") DO UPDATE SET (\"Id\", \"Name\", \"IsDeleted\")" +
        " = (EXCLUDED.\"Id\", EXCLUDED.\"Name\", EXCLUDED.\"IsDeleted\")" +
        " WHERE d.\"SystemModstamp\" IS NULL OR d.\"SystemModstamp\" < EXCLUDED.\"SystemModstamp\"")
    val del = d.deleteSql("\"salesforce\".\"Contact\"", "\"tmp\"", "Id", "IsDeleted")
    assert(del ==
      "DELETE FROM \"salesforce\".\"Contact\" WHERE \"Id\" IN " +
        "(SELECT \"Id\" FROM \"tmp\" WHERE \"IsDeleted\")")
  }

  test("PG COPY SQL golden string incl. FORCE_NULL (csv_to_postgres.py:29-45)") {
    val d = new PgDialect()
    assert(d.copyInSql("\"contacts\"", Seq("Id", "Name", "Amount"),
      Seq("Name", "Amount")).contains(
      "COPY \"contacts\" (\"Id\",\"Name\",\"Amount\") FROM STDIN WITH " +
        "(FORMAT csv, HEADER, FORCE_NULL (\"Name\",\"Amount\"))"))
    // no nillable columns -> no FORCE_NULL clause at all
    assert(d.copyInSql("t", Seq("Id"), Nil).contains(
      "COPY t (\"Id\") FROM STDIN WITH (FORMAT csv, HEADER)"))
    // Derby has no COPY protocol: callers must fall back to INSERTs
    assert(new graft.sink.DerbyDialect().copyInSql("t", Seq("Id"), Nil).isEmpty)
  }

  test("PG staging is the reference's session-local TEMPORARY table") {
    val d = new PgDialect()
    assert(d.createStagingSql("\"tmp\"", "\"dest\"").startsWith("CREATE TEMPORARY TABLE"))
  }

  test("PG truncate/drop/max-ts golden strings (csv_to_postgres.py:63, synctable.py:45-54)") {
    val d = new PgDialect()
    assert(d.truncateSql("\"t\"") == "TRUNCATE TABLE \"t\"")
    assert(d.dropSql("\"t\"") == "DROP TABLE \"t\"")
    assert(d.maxTsSql("\"salesforce\".\"Contact\"", "SystemModstamp") ==
      "SELECT MAX(\"SystemModstamp\") FROM \"salesforce\".\"Contact\"")
    // Derby's truncate analogue stays transactional (DELETE)
    assert(new graft.sink.DerbyDialect().truncateSql("\"t\"") == "DELETE FROM \"t\"")
  }

  test("identifier quoting is config-gated (pg.py:108-115)") {
    assert(new PgDialect(quoteNames = false).quoteIdent("Contact") == "Contact")
    assert(new PgDialect().quoteIdent("Contact") == "\"Contact\"")
    assert(new PgDialect().quoteLiteral("a'b") == "'a''b'")
  }
}

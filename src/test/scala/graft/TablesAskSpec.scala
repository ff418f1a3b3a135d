package graft

import graft.ask.Ask
import graft.search.{FrameCols, Search}
import graft.tables.ExtractedTables
import org.apache.spark.sql.functions._

class TablesAskSpec extends SparkSpec with TempStores {
  import spark.implicits._

  private val md =
    """Intro text.
      || name | age |
      || --- | --- |
      || alice | 30 |
      || bob | 25 |
      |More prose.
      || x |
      || 1 |
      |""".stripMargin

  test("table extraction: headers, cells, summaries, row maps") {
    val docs = Seq((7L, md)).toDF("id", "text")
    val tables = ExtractedTables.extract(docs, "id", "text")
    val collected = tables.orderBy("tableIdx").collect()
    assert(collected.length == 2)
    assert(collected(0).getSeq[String](3) == Seq("name", "age"))
    assert(collected(0).getSeq[Seq[String]](4).length == 2)
    // second table has no separator row -> headerless
    assert(collected(1).getSeq[String](3).isEmpty)

    val cells = ExtractedTables.cells(tables)
    assert(cells.filter(col("tableId") === (7L << 20)).count() == 4)
    val maps = ExtractedTables.rowsAsMaps(tables).collect()
    assert(maps.length == 2)
    val m = maps.map(_.getMap[String, String](2)).find(_.get("name").contains("alice"))
    assert(m.isDefined && m.get("age") == "30")
    val sums = ExtractedTables.summaries(tables).orderBy("tableIdx").collect()
    assert(sums(0).getAs[Int]("n_rows") == 2 && sums(0).getAs[Int]("n_cols") == 2)
  }

  test("table export: csv and json round-trip") {
    val dir = tempDir("graft-tables")
    val docs = Seq((7L, md)).toDF("id", "text")
    val tables = ExtractedTables.extract(docs, "id", "text")
    ExtractedTables.exportCsv(tables, (7L << 20), s"$dir/csv")
    val csv = spark.read.option("header", true).csv(s"$dir/csv").collect()
    assert(csv.length == 2 && csv.head.getAs[String]("name") == "alice")
    ExtractedTables.exportJson(tables, (7L << 20), s"$dir/json")
    val json = spark.read.json(s"$dir/json").collect()
    assert(json.length == 2)
    // single-file contract: exactly one data part (reference parity)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts(s"$dir/csv") == 1 && parts(s"$dir/json") == 1)
  }

  test("sharded export: parallel parts, same rows, order by row index") {
    val dir = tempDir("graft-shards")
    // a 40-row table (larger than the markdown fixture) to spread shards
    val body = (1 to 40).map(i => s"| n$i | ${i * 10} |").mkString("\n")
    val bigMd = s"| name | age |\n| --- | --- |\n$body"
    val docs = Seq((9L, bigMd)).toDF("id", "text")
    val tables = ExtractedTables.extract(docs, "id", "text")
    ExtractedTables.exportCsvSharded(tables, (9L << 20), s"$dir/csv", n = 4)
    val files = new java.io.File(s"$dir/csv").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.length > 1, "sharded export must write multiple parts")
    val csv = spark.read.option("header", true).csv(s"$dir/csv")
    assert(csv.count() == 40)
    // concatenating parts in filename order reproduces the table order:
    // every part carries a contiguous, increasing range of row indices
    val firstNames = files.toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().toList.drop(1) // per-part header
        .map(_.split(",")(0).stripPrefix("n").toInt)
    }
    assert(firstNames == firstNames.sorted, s"rows out of order: $firstNames")
    ExtractedTables.exportJsonSharded(tables, (9L << 20), s"$dir/json", n = 4)
    assert(spark.read.json(s"$dir/json").count() == 40)
  }

  test("build_context groups hits by base uri") {
    val hits = Seq(
      (1L, "mv2://a/1", "first fact"), (2L, "mv2://a/2", "second fact"),
      (3L, "mv2://b/1", "other fact")).toDF("id", "uri", "text")
    val ctx = Ask.buildContext(hits, "uri", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ctx.keySet == Set("mv2://a/", "mv2://b/"))
    assert(ctx("mv2://a/").getAs[Long]("n_hits") == 2)
    assert(ctx("mv2://a/").getAs[String]("context").startsWith("## mv2://a/"))
  }

  test("token-match reorder prefers hits covering more distinct terms") {
    val hits = Seq(
      (1L, "alpha alpha alpha", 9.0),     // 1 distinct term, 3 occ
      (2L, "alpha beta", 1.0),            // 2 distinct terms
      (3L, "nothing here", 5.0)
    ).toDF("id", "text", "score")
    val ordered = Ask.reorderByTokenMatches(hits, "text", "score", Seq("alpha", "beta"))
      .collect().map(_.getLong(0)).toSeq
    assert(ordered == Seq(2L, 1L, 3L))
  }

  test("bm25 engine through the search facade ranks stemmed matches") {
    val docs = Seq(
      (1L, "sparks joining windows repeatedly sparks"),
      (2L, "spark join window"),
      (3L, "unrelated content entirely")).toDF("doc_id", "text")
    val hits = Search.search(docs, "doc_id", FrameCols(text = col("text")),
      "spark join", Search.Options(topK = 5, withSnippets = false,
        engine = Search.BM25Engine)).collect()
    // stemming folds sparks/spark, joining/join -> both docs hit; doc 3 absent
    assert(hits.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("xlsx-native table detect: sheet grid becomes headers + rows (S8)") {
    import graft.tables.ExtractedTables
    def zip(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (name, content) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(content.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val xlsx = zip(
      "xl/sharedStrings.xml" ->
        """<?xml version="1.0"?><sst><si><t>name</t></si><si><t>qty</t></si><si><t>bolt</t></si><si><t>nut</t></si></sst>""",
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
          |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>12</v></c></row>
          |<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>40</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val tables = ExtractedTables.fromXlsx(7L, xlsx)
    assert(tables.length == 1)
    assert(tables.head.headers == Seq("name", "qty"))
    assert(tables.head.rows == Seq(Seq("bolt", "12"), Seq("nut", "40")))
    assert(tables.head.sourceId == 7L)
  }
}

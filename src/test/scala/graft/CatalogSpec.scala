package graft

import graft.cypher.GraphStore
import graft.cypher.GraphStore._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog codec without a SparkSession: every line kind the store
  * writes round-trips byte for byte, stat tokens keep their ordering
  * semantics, and a line the codec does not know fails naming the line.
  * The catalogs below are verbatim `catalog.txt` files the store wrote.
  */
class CatalogSpec extends AnyFunSuite {
  private def text(lines: String*): String = lines.map(_ + "\n").mkString
  private def parse(t: String): Catalog = Catalog.parse(t.split("\n").toSeq)

  // extra: CREATE (:W), create_unique_properties_constraint, then an edge CREATE
  private val wholeUnique = text(
    "seq 4",
    "label W 3",
    "label E2 4",
    "next W 2",
    "next E2 1",
    "wholeunique W",
    "file v W v4%2Fv%2FW%2Fpart-00000-dbbec8fd-bff5-449a-8aba-e48fb17d7fa5-c000.snappy.parquet 844424930131970 844424930131970 a l 2 2",
    "file v W v3%2Fv%2FW%2Fpart-00000-4c6a061f-612b-49c2-9378-4543800628b8-c000.snappy.parquet 844424930131969 844424930131969 a l 1 1",
    "elabel E2 4")

  // misc: label `My Label`, properties `a b` and `x/y`, strings U+FFFF and U+1F600, then a SET
  private val encoded = text(
    "seq 3",
    "label My+Label 3",
    "next My+Label 2",
    "file v My+Label v4%2Fv%2FMy%2BLabel%2Fpart-00000-83ca49b9-5e03-4352-9c0f-58cfbcde6c5e-c000.snappy.parquet 844424930131969 844424930131969 a+b l 1 1 e s %F0%9F%98%80 %F0%9F%98%80 s s %EF%BF%BF %EF%BF%BF x%2Fy s r r",
    "file v My+Label v3%2Fv%2FMy%2BLabel%2Fpart-00000-5870ca7f-832f-42a2-b574-31326f473b98-c000.snappy.parquet 844424930131970 844424930131970 a+b l 2 2 e s b b s s a a x%2Fy s z z",
    "file v My+Label v2%2Fv%2FMy%2BLabel%2Fpart-00000-1e75b27a-3e11-4121-b2cf-e8cf74a8ca5f-c000.snappy.parquet 844424930131969 844424930131969 a+b l 1 1 e s %F0%9F%98%80 %F0%9F%98%80 s s %EF%BF%BF %EF%BF%BF x%2Fy s p+q p+q",
    "dvp v My+Label v4%2Fdv%2Fv__My%2BLabel.txt 1")

  // misc: date/timestamp/double columns, all-null columns, NullType labels and a unique constraint
  private val temporal = text(
    "seq 6",
    "label My+Label 3",
    "label T 4",
    "label N 5",
    "label N2 6",
    "next T 3",
    "next N2 2",
    "next My+Label 2",
    "next N 1",
    "unique T n",
    "vlabel My+Label 9",
    "file v T v11%2Fv%2FT%2Fpart-00000-908ccc92-024e-4d9d-adcb-87939af6d255-c000.snappy.parquet 1125899906842625 1125899906842625 dt D 19727 19727 n l 11 11 ts t 1704443400000000 1704443400000000 f n _ _",
    "file v T v10%2Fv%2FT%2Fpart-00000-d027874a-a62b-402a-b8fb-bf3f90b6a362-c000.snappy.parquet 1125899906842627 1125899906842627 dt n _ _ n l 3 3 ts n _ _ f d 1.5 1.5",
    "file v T v9%2Fv%2FT%2Fpart-00000-6320245e-13e6-44aa-b04e-aa6829d6f18a-c000.snappy.parquet 1125899906842625 1125899906842625 dt D 19727 19727 n l 1 1 ts t 1704443400000000 1704443400000000",
    "file v T v9%2Fv%2FT%2Fpart-00001-6320245e-13e6-44aa-b04e-aa6829d6f18a-c000.snappy.parquet 1125899906842626 1125899906842626 dt D 19758 19758 n l 2 2 ts n _ _",
    "dvp v T v11%2Fdv%2Fv__T.txt 1",
    "vlabel N 9",
    "nulltype v N z",
    "vlabel N2 9",
    "nulltype v N2 z")

  // upsert: a 300-row ingest batch, then two 4-key upsert batches
  private val upsert = text(
    "seq 3",
    "label U 3",
    "stream sbup 2",
    "file v U v4%2Fv%2FU%2Fpart-00000-10637680-d578-40ef-9220-12e0c4f46e8b-c000.snappy.parquet 844424930131983 844424930131986 k l 15 18 t s upd-2-0 upd-2-3",
    "file v U v3%2Fv%2FU%2Fpart-00000-b1101dd6-fde3-4d2d-b673-4f0e7779ce02-c000.snappy.parquet 844424930131976 844424930131979 k l 8 11 t s upd-1-0 upd-1-3",
    "file v U v2%2Fv%2FU%2Fpart-00000-0ca4aa08-7428-4f5a-bb24-9e9968b3a3f6-c000.snappy.parquet 844424930131969 844424930132043 k l 1 75 t s payload-1 payload-9",
    "file v U v2%2Fv%2FU%2Fpart-00001-0ca4aa08-7428-4f5a-bb24-9e9968b3a3f6-c000.snappy.parquet 844424930132044 844424930132118 k l 76 150 t s payload-100 payload-99",
    "file v U v2%2Fv%2FU%2Fpart-00002-0ca4aa08-7428-4f5a-bb24-9e9968b3a3f6-c000.snappy.parquet 844424930132119 844424930132193 k l 151 225 t s payload-151 payload-225",
    "file v U v2%2Fv%2FU%2Fpart-00003-0ca4aa08-7428-4f5a-bb24-9e9968b3a3f6-c000.snappy.parquet 844424930132194 844424930132268 k l 226 300 t s payload-226 payload-300",
    "dvp v U v3%2Fdv%2Fv__U.txt 4",
    "dvp v U v4%2Fdv%2Fv__U.txt 4")

  // ivfpq: 40 docs, IVF and PQ indexes, 16 point SETs (the entry chains merged)
  private val indexes = text(
    "seq 3",
    "label Doc 3",
    "next Doc 40",
    "file v Doc v59%2Fv%2FDoc%2Fpart-00000-8a70923c-32fd-4fab-a960-f5ef071b2e63-c000.snappy.parquet 844424930131984 844424930131984 k l 15 15 t s x15 x15",
    "file v Doc v58%2Fv%2FDoc%2Fpart-00000-00fa9410-224e-466a-9139-b3d841b8acc2-c000.snappy.parquet 844424930131983 844424930131983 k l 14 14 t s x14 x14",
    "file v Doc v57%2Fv%2FDoc%2Fpart-00000-ba736a3c-ac01-4c69-8aa3-5b361cd7e38c-c000.snappy.parquet 844424930131982 844424930131982 k l 13 13 t s x13 x13",
    "file v Doc v56%2Fv%2FDoc%2Fpart-00000-ff0bf86f-7f51-44bd-b33e-9b2411198927-c000.snappy.parquet 844424930131969 844424930131978 k l 0 9 t s x0 x9",
    "file v Doc v56%2Fv%2FDoc%2Fpart-00001-ff0bf86f-7f51-44bd-b33e-9b2411198927-c000.snappy.parquet 844424930131979 844424930131988 k l 10 19 t s x10 x12",
    "file v Doc v56%2Fv%2FDoc%2Fpart-00002-ff0bf86f-7f51-44bd-b33e-9b2411198927-c000.snappy.parquet 844424930131989 844424930131998 k l 20 29 t n _ _",
    "file v Doc v56%2Fv%2FDoc%2Fpart-00003-ff0bf86f-7f51-44bd-b33e-9b2411198927-c000.snappy.parquet 844424930131999 844424930132008 k l 30 39 t n _ _",
    "dvp v Doc v57%2Fdv%2Fv__Doc.txt 1",
    "dvp v Doc v58%2Fdv%2Fv__Doc.txt 1",
    "dvp v Doc v59%2Fdv%2Fv__Doc.txt 1",
    "ivf Doc embedding l2 2 2 42",
    "pq Doc embedding l2 2 2 4 43",
    "ivfa Doc embedding v59%2Fivfa%2FDoc__embedding",
    "pqc Doc embedding v59%2Fpqc%2FDoc__embedding")

  private val all = Seq(wholeUnique, encoded, temporal, upsert, indexes)

  test("render(parse(x)) == x for every line kind the store writes") {
    all.foreach(t => assert(parse(t).render == t))
    val kinds = all.flatMap(_.split("\n")).map(_.takeWhile(_ != ' ')).toSet
    assert(kinds == Set("seq", "label", "next", "unique", "wholeunique", "stream",
      "vlabel", "elabel", "nulltype", "file", "dvp", "ivf", "pq", "ivfa", "pqc"))
    assert(Catalog.empty.render == "seq 2\n" && parse("seq 2\n") == Catalog.empty)
  }

  test("parsed catalog: table forms, header facts, indexes and entries") {
    val c = parse(temporal)
    assert(c.seq == 6 && c.labels.map(_._1) == List("My Label", "T", "N", "N2"))
    assert(c.uniques == List(("T", "n")))
    assert(c.table("v", "N") == Some(DirTable("v", "N", 9, List("z"))))
    val t = c.table("v", "T").get.asInstanceOf[FileTable]
    assert(t.files.map(_.version) == List(11L, 10L, 9L, 9L))
    assert(t.dvps == List(DvpFile("v11/dv/v__T.txt", 1)))
    assert(t.files.head.idStats == Some((1125899906842625L, 1125899906842625L)))
    val u = parse(upsert)
    assert(u.streams == List(("sbup", 2L)))
    assert(u.table("v", "U").get.asInstanceOf[FileTable].dvps.map(_.count) == List(4L, 4L))
    val w = parse(wholeUnique)
    assert(w.wholeUniques == List("W") && w.table("e", "E2") == Some(DirTable("e", "E2", 4, Nil)))
    val i = parse(indexes)
    assert(i.indexes == List(IndexDef("ivf", "Doc", "embedding", "l2", List(2, 2), 42),
      IndexDef("pq", "Doc", "embedding", "l2", List(2, 2, 4), 43)))
    assert(i.indexes.head.matrixRel == "v42/ivf/Doc__embedding.txt")
    assert(i.entries == List(
      Entries("ivfa", "Doc", "embedding", List("v59/ivfa/Doc__embedding")),
      Entries("pqc", "Doc", "embedding", List("v59/pqc/Doc__embedding"))))
  }

  test("code-point-order string and temporal stat tokens survive the codec") {
    // the stat bounds of the "manifest stat bounds" and temporal IN tests
    val s = FileStats("v", "P", "v1/x", Some((1L, 2L)), Map("t" -> (("s", "a", "\ud83d\ude00"))))
    val fs = FileStats("v", "P", "v1/x", Some((1L, 2L)),
      Map("ts" -> (("t", "1704443400000000", "1704443400000000")),
          "dt" -> (("D", "19727", "19727"))))
    Seq(s, fs).foreach { f =>
      val back = parse(text("seq 2", f.line)).tables.head.asInstanceOf[FileTable].files.head
      assert(back == f && back.pstats == f.pstats)
    }
    assert(s.mayOverlap("t", Some("\uffff"), Some("\uffff")))
    assert(!s.mayOverlap("t", Some("\ud83d\ude01"), None))
    assert(fs.mayOverlap("ts", Some(DateBound(19727)), None))
    assert(!fs.mayOverlap("ts", Some(DateBound(19728)), None))
    assert(!fs.mayOverlap("dt", None, Some(TsBound(19727L * 86400000000L - 1))))
    // a written file whose max is U+1F600 keeps a U+FFFF probe
    val f = parse(encoded).table("v", "My Label").get.asInstanceOf[FileTable].files.head
    assert(f.pstats("e") == (("s", "\ud83d\ude00", "\ud83d\ude00")))
    assert(f.pstats("s") == (("s", "\uffff", "\uffff")))
    assert(f.mayOverlap("e", Some("\uffff"), None)) // UTF-16 order would prune it
    assert(!f.mayOverlap("e", Some("\ud83d\ude01"), None))
    val t = parse(temporal).table("v", "T").get.asInstanceOf[FileTable].files.last
    assert(t.pstats("dt") == (("D", "19758", "19758")))
    assert(!t.mayOverlap("dt", Some(DateBound(19759)), None))
  }

  test("the all-null token: `n _ _` prunes every bound and round-trips") {
    val t = parse(temporal).table("v", "T").get.asInstanceOf[FileTable].files
    assert(t(1).pstats("dt") == (("n", "_", "_")) && t(1).ptail.take(4) == List("dt", "n", "_", "_"))
    assert(!t(1).mayOverlap("dt", Some(DateBound(0)), None))
    assert(!t(1).mayOverlap("ts", None, Some(TsBound(Long.MaxValue))))
    val n = FileStats("v", "P", "v1/x", Some((1L, 2L)), Map("c" -> (("n", "_", "_"))))
    assert(n.line == "file v P v1%2Fx 1 2 c n _ _")
  }

  test("label and property names that need URL-encoding") {
    val c = parse(encoded)
    assert(c.labels == List(("My Label", 3)) && c.next == List(("My Label", 2L)))
    val t = c.table("v", "My Label").get.asInstanceOf[FileTable]
    assert(t.files.head.encLabel == "My+Label" && t.files.head.rel.startsWith("v4/v/My+Label/part-"))
    assert(t.files.head.pstats.keySet == Set("a b", "e", "s", "x/y"))
    assert(t.dvps == List(DvpFile("v4/dv/v__My+Label.txt", 1)))
    val odd = Catalog.empty.copy(labels = List(("a/b c", 5)),
      tables = List(DirTable("e", "a/b c", 7, List("p q"))))
    assert(odd.lines == List("seq 2", "label a%2Fb+c 5", "elabel a%2Fb+c 7", "nulltype e a%2Fb+c p+q"))
    assert(parse(odd.render) == odd)
  }

  test("referencedVersions: every version dir a catalog points into") {
    assert(parse(indexes).referencedVersions == Set(42L, 43L, 56L, 57L, 58L, 59L))
    assert(parse(temporal).referencedVersions == Set(9L, 10L, 11L))
    assert(parse(upsert).referencedVersions == Set(2L, 3L, 4L))
    val chain = Catalog.empty.copy(entries = List(
      Entries("ivfa", "D", "e", List("v3/ivfa/D__e", "v5/ivfa/D__e")),
      Entries("pqc", "D", "e", List("v4/pqc/D__e"))))
    assert(chain.referencedVersions == Set(3L, 4L, 5L))
    assert(parse(chain.render) == chain)
    assert(Catalog.empty.referencedVersions.isEmpty)
  }

  test("a line of unknown kind or shape fails, naming the line") {
    def fails(line: String, what: String): Unit = {
      val e = intercept[IllegalArgumentException](Catalog.parse(Seq("seq 3", line)))
      assert(e.getMessage.contains(what) && e.getMessage.contains(s"'$line'"), e.getMessage)
    }
    fails("dv v P v3%2Fdv%2Fv__P.txt 1", "unknown kind") // id-form tombstones
    fails("vlabel P", "malformed")                       // version-less table
    fails("ivfa Doc embedding 42", "malformed")          // bare-number entries
    fails("pqc Doc embedding 42", "malformed")
    fails("dvp v P v3%2Fdv%2Fv__P.txt 1", "malformed")   // dvs of no file table
    fails("file v P v3%2Fx 1", "malformed")              // half an id range
    fails("", "unknown kind")
  }
}

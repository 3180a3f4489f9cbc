package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{Bzip2Functions, DocxFunctions,
  EmlFunctions, EpubFunctions, HtmlFunctions, JsonlFunctions, PdfFunctions,
  RasterFunctions, RobotsFunctions, TarFunctions, WarcFunctions,
  WikiFunctions, XlsxFunctions, ZipFunctions}

/** Throughput probe for the document/container surface (round 14,
  * office/eml lanes added round 15) — the STRESS_AUDIO/STRESS_RASTER
  * methodology applied per lane:
  *
  *  - `pdf`: full PDF extraction per row (xref chain — classic and
  *    stream forms by seed rotation — COS parse, FlateDecode, page
  *    tree, BT/ET text assembly), measured in docs/s and extracted
  *    chars/s.
  *  - `tar`: checksummed ustar walk + member explode (the WebDataset
  *    inventory pass), docs/s and member ranges/s.
  *  - `zip`: central-directory walk with EVERY member inflated and
  *    CRC-verified, docs/s and decoded MB/s.
  *  - `wds`: the container→codec composition — real JPEGs decoded
  *    straight out of tar byte ranges — samples/s.
  *  - `crawl`: the end-to-end WARC→HTTP-strip→HTML-extract projection
  *    (the per-row stage of crawl_dedup_pipeline), docs/s.
  *
  * Every lane gates on full decode counts (a regression to
  * null/unknown must not inflate throughput). Run with `runMain
  * graft.Bench stress doc` (fresh JVM, quiet box, as every stress lane).
  */
object DocStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_DOC_DOCS", "40000").toLong
    val ids = spark.range(0, nDocs).select(col("id"))
    val fields = collection.mutable.ArrayBuffer(
      s""""docs":$nDocs""", s""""cpus":$cpus""")

    // warm-up outside the timed lanes
    ids.limit(200)
      .select(PdfFunctions.pdf_text(PdfFunctions.synth_pdf(col("id"))).as("d"))
      .agg(sum(col("d.n_pages"))).head()

    // ---- pdf
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(PdfFunctions.pdf_text(PdfFunctions.synth_pdf(col("id"))).as("d"))
        .select(col("d.n_pages").as("np"), explode(col("d.pages")).as("p"))
        .agg(count(lit(1)).as("pages"), sum(length(col("p.text"))).as("chars"))
        .head())
      val expPages = (0L until nDocs).map(d => 1 + d % 3).sum
      require(r.getLong(0) == expPages,
        s"pdf: ${r.getLong(0)} pages of $expPages (every page must extract)")
      fields += f""""pdf_sec":$sec%.2f"""
      fields += f""""pdf_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""pdf_chars_per_s":${r.getLong(1) / sec}%.0f"""
    }

    // ---- tar (inventory walk)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(TarFunctions.tar_members(TarFunctions.synth_tar(col("id"))).as("t"))
        .select(explode(col("t.members")).as("m"))
        .agg(count(lit(1)).as("members"), sum(col("m.size")).as("bytes"))
        .head())
      val expMembers = (0L until nDocs).map(d => 2 * (2 + d % 3)).sum
      require(r.getLong(0) == expMembers, s"tar: ${r.getLong(0)} members")
      fields += f""""tar_sec":$sec%.2f"""
      fields += f""""tar_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""tar_members_per_s":${r.getLong(0) / sec}%.0f"""
    }

    // ---- zip (full inflate + CRC per member)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(ZipFunctions.zip_entries(ZipFunctions.synth_zip(col("id"))).as("z"))
        .select(explode(col("z.entries")).as("e"))
        .agg(count(lit(1)).as("entries"), sum(col("e.usize")).as("bytes"))
        .head())
      val expEntries = (0L until nDocs).map(d => 2 * (2 + d % 3)).sum
      require(r.getLong(0) == expEntries, s"zip: ${r.getLong(0)} entries")
      fields += f""""zip_sec":$sec%.2f"""
      fields += f""""zip_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""zip_mb_per_s":${r.getLong(1) / 1e6 / sec}%.1f"""
    }

    // ---- wds (tar walk + JPEG decode from member ranges)
    locally {
      val wdsDocs = math.max(1000L, nDocs / 4) // each doc decodes 2-4 JPEGs
      val wdsIds = spark.range(0, wdsDocs).select(col("id"))
      val (sec, r) = Bench.best(spark, 1)(wdsIds
        .select(col("id"), TarFunctions.synth_tar_wds(col("id")).as("t"))
        .select(col("id"), col("t"),
          explode(TarFunctions.tar_members(col("t")).getField("members")).as("m"))
        .filter(col("m.name").endsWith(".jpg"))
        .select(RasterFunctions.image_decode(expr(
          "substring(t, CAST(m.offset + 1 AS INT), CAST(m.size AS INT))"))
          .as("r"))
        .agg(count(col("r.width")).as("decoded")).head())
      val expSamples = (0L until wdsDocs).map(d => 2 + d % 3).sum
      require(r.getLong(0) == expSamples, s"wds: ${r.getLong(0)} samples")
      fields += s""""wds_docs":$wdsDocs"""
      fields += f""""wds_sec":$sec%.2f"""
      fields += f""""wds_samples_per_s":${r.getLong(0) / sec}%.0f"""
    }

    // ---- crawl (WARC → HTTP strip → HTML extract)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(WarcFunctions.warc_records(
          WarcFunctions.synth_warc_html_gz(col("id"))).as("w"))
        .select(explode(col("w.records")).as("r"))
        .filter(col("r.rec_type") === "response")
        .select(col("r.body").as("body"))
        .select(col("body")
          .substr(locate("\r\n\r\n", col("body")) + 4, length(col("body")))
          .as("html"))
        .select(HtmlFunctions.html_text(col("html")).as("h"))
        .agg(count(col("h.text")).as("n"),
          sum(length(col("h.text"))).as("chars"))
        .head())
      require(r.getLong(0) == nDocs, s"crawl: ${r.getLong(0)} of $nDocs")
      fields += f""""crawl_sec":$sec%.2f"""
      fields += f""""crawl_docs_per_s":${nDocs / sec}%.0f"""
    }

    // ---- epub (zip walk + per-chapter HTML extraction)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(EpubFunctions.zip_texts(
          EpubFunctions.synth_epub(col("id")), ".xhtml").as("z"))
        .select(explode(col("z.texts")).as("t"))
        .select(HtmlFunctions.html_text(col("t.text")).as("h"))
        .agg(count(col("h.text")).as("chapters"),
          sum(length(col("h.text"))).as("chars"))
        .head())
      val expChapters = (0L until nDocs).map(d => 1 + d % 3).sum
      require(r.getLong(0) == expChapters, s"epub: ${r.getLong(0)} chapters")
      fields += f""""epub_sec":$sec%.2f"""
      fields += f""""epub_docs_per_s":${nDocs / sec}%.0f"""
    }

    // ---- jsonl.gz (gunzip + line split + from_json)
    locally {
      val lineSchema = org.apache.spark.sql.types.StructType
        .fromDDL("id BIGINT, lang STRING, text STRING")
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(JsonlFunctions.gzip_text(JsonlFunctions.synth_jsonl_gz(col("id"))).as("t"))
        .select(explode(filter(split(col("t"), "\n"),
          x => x =!= lit(""))).as("line"))
        .select(from_json(col("line"), lineSchema).as("j"))
        .agg(count(col("j.id")).as("n")).head())
      val expLines = (0L until nDocs).map { d =>
        (0 until (2 + d % 3).toInt).map(m => 1 + (d + m) % 3).sum
      }.sum
      require(r.getLong(0) == expLines, s"jsonl: ${r.getLong(0)} lines")
      fields += f""""jsonl_sec":$sec%.2f"""
      fields += f""""jsonl_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""jsonl_lines_per_s":${r.getLong(0) / sec}%.0f"""
    }

    // ---- docx (zip walk + WML text assembly) — r15's office family
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(DocxFunctions.docx_text(DocxFunctions.synth_docx(col("id"))).as("d"))
        .agg(sum(col("d.n_paragraphs")).as("paras"),
          sum(length(col("d.text"))).as("chars"))
        .head())
      val expParas = (0L until nDocs).map(d => 11 + d % 3).sum
      require(r.getLong(0) == expParas,
        s"docx: ${r.getLong(0)} paragraphs of $expParas")
      fields += f""""docx_sec":$sec%.2f"""
      fields += f""""docx_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""docx_chars_per_s":${r.getLong(1) / sec}%.0f"""
    }

    // ---- xlsx (zip walk + shared strings + cell resolution)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(XlsxFunctions.xlsx_cells(XlsxFunctions.synth_xlsx(col("id"))).as("d"))
        .agg(sum(col("d.n_cells")).as("cells")).head())
      val expCells = (0L until nDocs).map(d => (2 + d % 3) * 4 + d % 2).sum
      require(r.getLong(0) == expCells, s"xlsx: ${r.getLong(0)} cells")
      fields += f""""xlsx_sec":$sec%.2f"""
      fields += f""""xlsx_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""xlsx_cells_per_s":${r.getLong(0) / sec}%.0f"""
    }

    // ---- eml (headers + RFC 2047 + multipart + QP/base64 decode)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(EmlFunctions.eml_message(EmlFunctions.synth_eml(col("id"))).as("d"))
        .agg(sum(col("d.n_parts")).as("parts")).head())
      val expParts = (0L until nDocs).map(d => (d % 4) match {
        case 2 => 2L; case 3 => 3L; case _ => 1L
      }).sum
      require(r.getLong(0) == expParts, s"eml: ${r.getLong(0)} parts")
      fields += f""""eml_sec":$sec%.2f"""
      fields += f""""eml_docs_per_s":${nDocs / sec}%.0f"""
    }

    // ---- wikibz2 (bzip2 decode → dump parse → wikitext strip)
    locally {
      val wikiDocs = math.max(1000L, nDocs / 4) // 3 decode layers per doc
      val wikiIds = spark.range(0, wikiDocs).select(col("id"))
      val (sec, r) = Bench.best(spark, 1)(wikiIds
        .select(WikiFunctions.mediawiki_pages(
          Bzip2Functions.bzip2_text(Bzip2Functions.synth_wiki_dump_bz2(col("id")))).as("d"))
        .select(explode(col("d.pages")).as("p"))
        .select(WikiFunctions.wikitext_strip(col("p.text")).as("t"))
        .agg(count(lit(1)).as("pages"), sum(length(col("t"))).as("chars"))
        .head())
      val expPages = (0L until wikiDocs).map(d => 1 + d % 3).sum
      require(r.getLong(0) == expPages, s"wikibz2: ${r.getLong(0)} pages")
      fields += s""""wikibz2_docs":$wikiDocs"""
      fields += f""""wikibz2_sec":$sec%.2f"""
      fields += f""""wikibz2_docs_per_s":${wikiDocs / sec}%.0f"""
      fields += f""""wikibz2_chars_per_s":${r.getLong(1) / sec}%.0f"""
    }

    // ---- robots (parse + 8 decisions per doc)
    locally {
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(col("id"), RobotsFunctions.synth_robots(col("id")).as("robots"))
        .select(col("id"), col("robots"),
          explode(sequence(lit(0L), lit(7L))).as("u"))
        .select(RobotsFunctions.robots_allowed(col("robots"), lit("graftbot"),
          concat(lit("/p"), col("u"), lit("/x"))).as("d"))
        .agg(count(col("d.allowed")).as("n"),
          sum(when(col("d.allowed"), 1L).otherwise(0L)).as("ok"))
        .head())
      require(r.getLong(0) == nDocs * 8, s"robots: ${r.getLong(0)} decisions")
      fields += f""""robots_sec":$sec%.2f"""
      fields += f""""robots_decisions_per_s":${r.getLong(0) / sec}%.0f"""
    }

    fields.mkString("{", ",", "}")
  }
}

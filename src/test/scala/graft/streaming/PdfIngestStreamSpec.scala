package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Streaming PDF ingest ([[StreamingPipelines.ingestPdfStream]],
  * round 16): .pdf files → page extraction → in-order page assembly →
  * word gate → ledgered exact dedup, keyed on the file path. */
class PdfIngestStreamSpec extends SparkFunSuite {

  /** Minimal classic-xref PDF: one or two pages of Tj text. */
  private def pdf(pages: Seq[String]): Array[Byte] = {
    def b(s: String) = s.getBytes("ISO-8859-1")
    val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val bodies = scala.collection.mutable.ArrayBuffer[String](
      "<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [${pages.indices
        .map(i => s"${3 + 2 * i} 0 R").mkString(" ")}] " +
        s"/Count ${pages.size} >>")
    pages.zipWithIndex.foreach { case (txt, i) =>
      val content = s"BT /F1 10 Tf ($txt) Tj ET"
      bodies += s"<< /Type /Page /Parent 2 0 R /Resources << /Font " +
        s"<< /F1 ${3 + 2 * pages.size} 0 R >> >> /Contents " +
        s"${4 + 2 * i} 0 R >>"
      bodies += s"<< /Length ${content.length} >>\nstream\n" +
        s"$content\nendstream"
    }
    bodies += helv
    val out = new java.io.ByteArrayOutputStream()
    out.write(b("%PDF-1.4\n"))
    val offs = bodies.zipWithIndex.map { case (body, i) =>
      val o = out.size()
      out.write(b(s"${i + 1} 0 obj\n$body\nendobj\n"))
      o
    }
    val xrefAt = out.size()
    out.write(b(s"xref\n0 ${bodies.length + 1}\n0000000000 65535 f \n"))
    offs.foreach(o => out.write(b(f"$o%010d 00000 n \n")))
    out.write(b(s"trailer\n<< /Size ${bodies.length + 1} /Root 1 0 R " +
      s">>\nstartxref\n$xrefAt\n%%EOF\n"))
    out.toByteArray
  }

  private def longText(tag: String): String =
    (s"pdf page $tag " + ("meaningful corpus words " * 6)).trim

  test("pdfIngestBatch: pages assemble in order, the gate drops " +
      "short docs, dedup collapses within and across batches, " +
      "replays no-op") {
    val s = spark
    val root = graft.TestPaths.dir("graft_pdf_ingest")
    val index = root.resolve("digests").toString
    def drop(name: String, pages: Seq[String]): String = {
      val p = root.resolve(name)
      java.nio.file.Files.write(p, pdf(pages))
      p.toString
    }
    val a = drop("a.pdf", Seq(longText("alpha"), longText("omega")))
    val b1 = drop("b.pdf", Seq(longText("beta")))
    val c = drop("c.pdf", Seq(longText("beta"))) // exact dup of b
    val d = drop("d.pdf", Seq("too short"))
    var sinkCalls = 0
    var survivors: Seq[String] = Nil
    def run(batchId: Long, paths: Seq[String]): Unit =
      StreamingPipelines.pdfIngestBatch(s, paths, batchId, "pq1",
        index, minWords = 20) { (fresh, _) =>
        sinkCalls += 1
        survivors = fresh.select("survivor_id").collect()
          .map(_.getString(0)).toSeq.sorted
      }
    run(0L, Seq(a, b1, c, d))
    assert(sinkCalls == 1)
    assert(survivors.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("a.pdf", "b.pdf"), s"batch 0: $survivors")
    // replay no-ops
    run(0L, Seq(a))
    assert(sinkCalls == 1)
    // batch 1: a re-submission of beta (suppressed) + a new doc
    val e = drop("e.pdf", Seq(longText("beta")))
    val f = drop("f.pdf", Seq(longText("gamma")))
    run(1L, Seq(e, f))
    assert(sinkCalls == 2)
    assert(survivors.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("f.pdf"), s"batch 1: $survivors")
  }

  test("end-to-end stream over a growing pdf directory") {
    val s = spark
    val root = graft.TestPaths.dir("graft_pdf_stream")
    val pdfs = root.resolve("pdfs")
    java.nio.file.Files.createDirectories(pdfs)
    val index = root.resolve("digests").toString
    def drop(name: String, tag: String): Unit =
      java.nio.file.Files.write(pdfs.resolve(name),
        pdf(Seq(longText(tag))))
    drop("one.pdf", "one")
    drop("two.pdf", "two")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingPipelines.ingestPdfStream(s, pdfs.toString,
      index, checkpointLocation =
        Some(root.resolve("ckpt").toString)) { (fresh, _) =>
      got ++= fresh.select("survivor_id").collect().map(_.getString(0))
      ()
    }
    try {
      q.processAllAvailable()
      assert(got.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
        == Seq("one.pdf", "two.pdf"), s"first drop: $got")
      drop("three.pdf", "one") // re-submission: suppressed
      drop("four.pdf", "four")
      q.processAllAvailable()
      assert(got.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
        == Seq("four.pdf", "one.pdf", "two.pdf"),
        s"after growth: $got")
    } finally q.stop()
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{BinaryTransport, Multimodal, Sources, Transport, Urls}

/** Deterministic local transport: proves the fetch operator's Spark-side
  * plumbing (lifecycle, dispatch, rate cap, landing zone) with zero
  * network. Counters are static — local-mode executors share the JVM.
  */
object StubTransport {
  val opens = new AtomicInteger(0)
  val closes = new AtomicInteger(0)
  def reset(): Unit = { opens.set(0); closes.set(0) }
}

class StubTransport extends Transport {
  override def open(): Unit = StubTransport.opens.incrementAndGet()
  override def fetch(url: String, engine: String): (String, String) =
    if (url.contains("/fail/")) throw new IllegalStateException("boom")
    else ("ok", s"# page at $url\nextracted by $engine\n")
  override def close(): Unit = StubTransport.closes.incrementAndGet()
}

class FetchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def requests(urls: String*) =
    urls.toDF("url").withColumn("engine", Urls.engineFor($"url"))

  test("fetch: one transport open/close per partition, S6 dispatch, error rows") {
    StubTransport.reset()
    val reqs = requests(
      "https://machinery.example.com/page/1", // internal  → playwright
      "https://building.example.com/page/2",  // whitelist → jina
      "https://furniture.example.com/page/3", // default   → trafilatura
      "https://furniture.example.com/fail/4") // transport throws
      .repartition(2)
    // hostPartitions = 0: this test pins the per-partition transport
    // lifecycle on a hand-placed frame; byHost placement has its own test
    val got = Sources.fetch(reqs, new StubTransport(), hostPartitions = 0).collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[String]("engine"), r.getAs[String]("status"))).toMap
    assert(StubTransport.opens.get() == 2, "open() must run once per partition")
    assert(StubTransport.closes.get() == 2, "close() must run once per partition")
    assert(got("https://machinery.example.com/page/1")._1 == "playwright")
    assert(got("https://building.example.com/page/2")._1 == "jina")
    assert(got("https://furniture.example.com/page/3")._1 == "trafilatura")
    // a throwing fetch degrades to an error row, never a task failure
    assert(got("https://furniture.example.com/fail/4")._2
      == "error:IllegalStateException")
    assert(got.values.count(_._2 == "ok") == 3)
  }

  test("fetch: per-partition rate cap floors the inter-request interval") {
    val reqs = requests((1 to 4).map(i =>
      s"https://furniture.example.com/page/$i"): _*).repartition(1)
    val t0 = System.nanoTime()
    Sources.fetch(reqs, new StubTransport(), minIntervalMs = 40).count()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // 4 fetches in one partition with a 40ms floor => >= 3 waits
    assert(elapsedMs >= 120, s"rate cap not enforced: ${elapsedMs}ms")
  }

  test("S8: binary fetch downloads assets that magic-byte classify") {
    object AssetTransport extends BinaryTransport {
      override def fetch(url: String): (String, Array[Byte]) =
        if (url.endsWith(".jpg"))
          ("ok", Array(0xFF, 0xD8, 0xFF, 0xE0, 1, 2, 3).map(_.toByte))
        else if (url.endsWith(".png"))
          ("ok", Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A).map(_.toByte))
        else if (url.endsWith(".bin"))
          ("ok", Array(0x00, 0x01).map(_.toByte))
        else throw new java.io.IOException("404")
    }
    val urls = Seq("https://a.com/i.jpg", "https://a.com/i.png",
      "https://a.com/x.bin", "https://a.com/gone").toDF("url")
    val got = Sources.fetchBinary(urls, AssetTransport)
      .withColumn("kind", Multimodal.mediaKind(org.apache.spark.sql.functions.col("payload")))
      .select("url", "status", "n_bytes", "kind")
      .as[(String, String, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("https://a.com/i.jpg")._4 == "jpeg")
    assert(got("https://a.com/i.png")._4 == "png")
    assert(got("https://a.com/x.bin")._4 == "unknown")
    val gone = got("https://a.com/gone")
    assert(gone._2 == "error:IOException" && gone._3 == 0 && gone._4 == "empty")
    assert(got("https://a.com/i.jpg")._3 == 7)
  }

  test("S9: pdf payloads route by magic bytes into the extraction stage") {
    import org.apache.spark.sql.functions.col
    object PdfTransport extends BinaryTransport {
      override def fetch(url: String): (String, Array[Byte]) =
        if (url.endsWith(".pdf"))
          ("ok", ("%PDF-1.7 " + url).getBytes("UTF-8")) // 25 50 44 46 magic
        else ("ok", Array(0x00.toByte))
    }
    val assets = Sources.fetchBinary(
      Seq("https://a.com/spec.pdf", "https://a.com/other.x").toDF("url"),
      PdfTransport)
      .withColumn("kind", Multimodal.mediaKind(col("payload")))
    val pdfs = Multimodal.withPdfTextStub(
        assets.filter(col("kind") === "pdf"), col("payload"))
      .select("url", "pdf_pages", "pdf_text")
      .as[(String, Int, String)].collect()
    assert(pdfs.length == 1)
    assert(pdfs.head._1 == "https://a.com/spec.pdf")
    assert(pdfs.head._2 >= 1 && pdfs.head._2 <= 16)
    assert(pdfs.head._3.startsWith("pdf text 255044462D")) // hex(%PDF-)
  }

  test("fetch → frontmatter → landing zone → readLandingZone round trip") {
    val d = Files.createTempDirectory("graft_landing_")
    val reqs = requests(
      "https://machinery.example.com/page/1",
      "https://building.example.com/page/2",
      "https://furniture.example.com/fail/3")
    val fetched = Sources.fetch(reqs, new StubTransport())
    Sources.writeLandingZone(fetched, d.toString)
    val back = Sources.readLandingZone(spark, d.toString + "/*.md")
    val bodies = back.select("body").as[String].collect()
    assert(bodies.length == 2, "error row must not land")
    assert(bodies.forall(_.startsWith("---\nurl: https://")))
    assert(bodies.exists(b => b.contains("engine: playwright")
      && b.contains("extracted by playwright")))
    assert(bodies.exists(_.contains("engine: jina")))
  }

  test("S9 real: fixture PDF bytes → pages → text rows → page store, cap enforced") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.etl.Sinks
    val twoPage = PdfFixtures.makePdf(
      Seq("Hello Spark PDF", "Second page text"), compress = true)
    val plain = PdfFixtures.makePdf(Seq("Plain stream works"), compress = false)
    val big = PdfFixtures.makePdf(
      (1 to 20).map(i => s"PageMarker$i content"), compress = true)
    object T extends BinaryTransport {
      override def fetch(url: String): (String, Array[Byte]) =
        if (url.endsWith("two.pdf")) ("ok", twoPage)
        else if (url.endsWith("plain.pdf")) ("ok", plain)
        else if (url.endsWith("big.pdf")) ("ok", big)
        else ("ok", Array[Byte](1, 2, 3))
    }
    val assets = Sources.fetchBinary(
      Seq("https://a.com/two.pdf", "https://a.com/plain.pdf",
        "https://a.com/big.pdf", "https://a.com/x.bin").toDF("url"), T)
      .withColumn("kind", Multimodal.mediaKind(col("payload")))
    val pdfRows = Multimodal.withPdfText(
      assets.filter(col("kind") === "pdf"), col("payload"))
    val got = pdfRows.select("url", "pdf_pages", "pdf_text")
      .as[(String, Int, String)].collect()
      .map(r => r._1.split('/').last -> ((r._2, r._3))).toMap
    assert(got.keySet == Set("two.pdf", "plain.pdf", "big.pdf"))
    assert(got("two.pdf") == ((2, "Hello Spark PDF\n\nSecond page text")))
    assert(got("plain.pdf") == ((1, "Plain stream works")))
    // the reference cap (config/limits.yaml:91-92): all 20 physical
    // pages REPORTED, extraction stops at page 15
    assert(got("big.pdf")._1 == 20)
    assert(got("big.pdf")._2.contains("PageMarker15"))
    assert(!got("big.pdf")._2.contains("PageMarker16"))
    // land in the page store (K1) and read back
    val d = Files.createTempDirectory("graft_pdfstore_").toString
    Sinks.writePages(pdfRows.select(col("url"), lit("en").as("lang"),
      col("pdf_pages"), col("pdf_text")), d)
    val back = spark.read.parquet(d)
    assert(back.count() == 3 && back.columns.contains("pdf_text"))
  }

  test("S9 real: string grammar (escapes, octal, hex, TJ) and garbage robustness") {
    import graft.etl.PdfText
    val content =
      "BT [(A\\(b\\)) -120 ( c\\\\d)] TJ ET BT <48492121> Tj (oct\\101l) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} >> stream\n" + content +
      "\nendstream endobj\n" +
      "trailer << /Root 1 0 R >>").getBytes("ISO-8859-1")
    val r = PdfText.extract(pdf)
    assert(r.pages == 1)
    assert(r.text == "A(b) c\\d HI!! octAl")
    // garbage in, empty out — never a throw (one bad asset must not
    // kill a stage)
    assert(PdfText.extract("not a pdf at all".getBytes("UTF-8"))
      == PdfText.Extraction(0, ""))
    assert(PdfText.extract(Array.empty[Byte]) == PdfText.Extraction(0, ""))
    assert(PdfText.extract(null) == PdfText.Extraction(0, ""))
    val truncated = java.util.Arrays.copyOf(pdf, pdf.length / 3)
    assert(PdfText.extract(truncated).text == "") // no endobj reached
  }

  test("S9 round-trip: PdfBuild → PdfText inverts exactly — escapes, " +
       "the 15-page cap, and the wordless one-page edge") {
    import graft.etl.PdfText
    import graft.functions.PdfBuild
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    // delimiter-heavy words survive the escape round trip
    val r = PdfText.extract(PdfBuild.build(
      u8("a(b) c\\d (nested (parens)) end")), 15)
    assert(r.pages == 2) // 5 words / 4-word pages
    assert(r.text == "a(b) c\\d (nested (parens))\n\nend")
    // the cap: 100 words = 25 physical pages, text stops at page 15
    val r2 = PdfText.extract(PdfBuild.build(
      u8((1 to 100).map(i => s"w$i").mkString(" "))), 15)
    assert(r2.pages == 25)
    assert(r2.text.endsWith("w60") && !r2.text.contains("w61"))
    // wordless doc still renders one structurally valid (empty) page
    assert(PdfText.extract(PdfBuild.build(u8("   ")), 15)
      == PdfText.Extraction(1, ""))
  }

  test("S9 round-trip hardening (ADVICE r16): non-Latin-1 text, control/" +
       "high bytes, and the lexical keywords all invert exactly on both " +
       "stream paths") {
    import graft.etl.PdfText
    import graft.functions.PdfBuild
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    def roundTrip(words: String): String =
      PdfText.extract(PdfBuild.build(u8(words)), 15).text.replace("\n\n", " ")
    // the lexical keywords in page text must not truncate the object
    // scan — page 0 is UNCOMPRESSED (the hazardous path), so put them
    // in the first 4 words
    val kw = "endobj endstream stream xref five six seven eight"
    assert(roundTrip(kw) == kw)
    // Latin-1 high bytes (octal-escape path, é=U+00E9 ü=U+00FC)
    val l1 = "café über naïve plain"
    assert(roundTrip(l1) == l1)
    // beyond Latin-1: CJK + Cyrillic ride the PDF 2.0 BOM'd-UTF-8 path
    // on both the uncompressed (page 0) and Flate (page 1) streams
    val uni = "日本語 русский mixed ascii" +
      " 中文 tail words here pad"
    assert(roundTrip(uni) == uni)
    // a Latin-1 word that literally starts with the BOM byte triple
    // must not lose its first three chars to the BOM strip
    val bomish = "ï»¿word plain two three"
    assert(roundTrip(bomish) == bomish)
  }

  // ---- real HTTP transport (java.net.http) against a loopback server ----

  import graft.etl.{BinaryHttpTransport, HttpFetch, HttpTransport}

  test("HTTP transport: loopback GET ok; 404 fails fast without retry") {
    Loopback.withServer { srv =>
      val hits = new AtomicInteger(0)
      srv.route("/page") { ex => Loopback.respond(ex, 200, "# hello\n".getBytes) }
      srv.route("/gone") { ex => hits.incrementAndGet(); Loopback.respond(ex, 404, Array.empty) }
      val t = new HttpTransport(srv.base + "/reader/{url}",
        maxAttempts = 3, initialDelayMs = 5, perHostIntervalMs = 0)
      t.open()
      try {
        assert(t.fetch(srv.base + "/page", "trafilatura") == (("ok", "# hello\n")))
        val e = intercept[HttpFetch.HttpStatusException] {
          t.fetch(srv.base + "/gone", "trafilatura")
        }
        assert(e.code == 404)
        assert(hits.get() == 1, "plain 4xx must not retry")
      } finally t.close()
    }
  }

  test("HTTP transport: 429 + Retry-After retries to success; 5xx exhausts to an error row") {
    Loopback.withServer { srv =>
      val flaky = new AtomicInteger(0)
      val broken = new AtomicInteger(0)
      srv.route("/flaky") { ex =>
        if (flaky.incrementAndGet() == 1)
          Loopback.respond(ex, 429, Array.empty, "Retry-After" -> "0")
        else Loopback.respond(ex, 200, "recovered".getBytes)
      }
      srv.route("/broken") { ex =>
        broken.incrementAndGet(); Loopback.respond(ex, 500, Array.empty)
      }
      val t = new HttpTransport(srv.base + "/reader/{url}",
        maxAttempts = 3, initialDelayMs = 5, perHostIntervalMs = 0)
      t.open()
      try {
        assert(t.fetch(srv.base + "/flaky", "playwright") == (("ok", "recovered")))
        assert(flaky.get() == 2, "429 must retry once and succeed")
      } finally t.close()
      // end-to-end through the fetch operator: retries exhaust, the row
      // degrades to error status, the stage never fails
      val got = Sources.fetch(Seq(srv.base + "/broken").toDF("url")
          .withColumn("engine", org.apache.spark.sql.functions.lit("trafilatura")),
        new HttpTransport(srv.base + "/reader/{url}",
          maxAttempts = 3, initialDelayMs = 5, perHostIntervalMs = 0)).collect()
      assert(got.head.getAs[String]("status") == "error:HttpStatusException")
      assert(broken.get() == 3, "5xx must retry up to max_attempts")
    }
  }

  test("HTTP transport: jina wraps the reader endpoint; force-local urls never reach it") {
    Loopback.withServer { srv =>
      val readerPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      srv.route("/reader/") { ex =>
        readerPaths.add(ex.getRequestURI.toString)
        Loopback.respond(ex, 200, "reader md".getBytes)
      }
      srv.route("/admin/panel") { ex => Loopback.respond(ex, 200, "local ok".getBytes) }
      val t = new HttpTransport(srv.base + "/reader/{url}",
        maxAttempts = 1, initialDelayMs = 5, perHostIntervalMs = 0)
      t.open()
      try {
        // whitelisted external host → hosted reader, url embedded in path
        val ext = t.fetch("https://building.example.com/p1", "jina")
        assert(ext == (("ok", "reader md")))
        assert(readerPaths.size == 1 &&
          readerPaths.peek.contains("/reader/https://building.example.com/p1"))
        // sensitive path forces local even when routed jina: direct GET,
        // reader hit count unchanged (security.yaml force_local override)
        val loc = t.fetch(srv.base + "/admin/panel", "jina")
        assert(loc == (("ok", "local ok")))
        assert(readerPaths.size == 1, "force-local url must never reach the reader")
        assert(HttpFetch.forceLocal("https://machinery.example.com/x"))
        // substring host match like engineFor's rlike: SUBDOMAINS of an
        // internal domain are internal too
        assert(HttpFetch.forceLocal("https://docs.machinery.example.com/x"))
        assert(HttpFetch.forceLocal("http://10.1.2.3/x"))
        assert(HttpFetch.forceLocal("http://a.internal/x"))
        assert(!HttpFetch.forceLocal("https://building.example.com/p1"))
        // address-level guard: every private family, not just the
        // RFC-1918 spot checks — link-local metadata endpoints, the
        // any-local address, IPv6 link-local and unique-local
        assert(HttpFetch.forceLocal("http://169.254.169.254/latest/meta-data"))
        assert(HttpFetch.forceLocal("http://0.0.0.0/x"))
        assert(HttpFetch.forceLocal("http://192.168.0.1/x"))
        assert(HttpFetch.forceLocal("http://172.16.0.1/x"))
        assert(HttpFetch.forceLocal("http://[::1]/x"))
        assert(HttpFetch.forceLocal("http://[fe80::1]/x"))
        assert(HttpFetch.forceLocal("http://[fc00::1]/x"))
        assert(HttpFetch.forceLocal("http://[fd12:3456::1]/x"))
        // the guard shares InetAddress with the socket layer, so a
        // NAME resolving into private space is private (rebinding's
        // first resolution) — localhost is the one name every
        // environment resolves
        assert(HttpFetch.privateAddress("localhost").contains(true))
        // and an unresolvable host is None — refused by the connect,
        // not misclassified by the guard
        assert(HttpFetch.privateAddress("").isEmpty)
      } finally t.close()
    }
  }

  test("HTTP transport: redirects follow manually with the force-local hop guard") {
    Loopback.withServer { srv =>
      srv.route("/hop") { ex =>
        Loopback.respond(ex, 302, Array.empty, "Location" -> "/landed")
      }
      srv.route("/landed") { ex => Loopback.respond(ex, 200, "arrived".getBytes) }
      val t = new HttpTransport(srv.base + "/reader/{url}",
        maxAttempts = 1, initialDelayMs = 5, perHostIntervalMs = 0)
      t.open()
      try {
        // relative Location resolves against the current url and follows
        assert(t.fetch(srv.base + "/hop", "trafilatura") == (("ok", "arrived")))
      } finally t.close()
      // the guard: a fetch that starts OUTSIDE force-local space must
      // refuse a redirect INTO it (SSRF) — exercised via get() with the
      // public-origin hop guard, since tests can only originate locally
      val guard = HttpFetch.hopGuard("https://building.example.com/p")
      assert(!guard("http://10.1.2.3/latest/meta-data"))
      assert(!guard("http://127.0.0.1/x"))
      assert(!guard("https://machinery.example.com/x"))
      // the metadata-service hop the scaladoc cites, plus the other
      // private families the address-level guard now closes
      assert(!guard("http://169.254.169.254/latest/meta-data"))
      assert(!guard("http://0.0.0.0/x"))
      assert(!guard("http://[fe80::1]/x"))
      assert(!guard("http://[fc00::1]/x"))
      assert(guard("https://other-public.example.net/x"))
      val client = HttpFetch.newClient(1000)
      val e = intercept[HttpFetch.RedirectRefusedException] {
        HttpFetch.get(client, srv.base + "/hop", 1000, 1, 5, 2, 10, 0,
          allowHop = _ => false)
      }
      assert(e.getMessage.contains("refused"))
    }
  }

  test("HTTP transport: malformed negative Retry-After still retries (clamped to 0)") {
    Loopback.withServer { srv =>
      val hits = new AtomicInteger(0)
      srv.route("/neg") { ex =>
        if (hits.incrementAndGet() == 1)
          Loopback.respond(ex, 429, Array.empty, "Retry-After" -> "-1")
        else Loopback.respond(ex, 200, "ok2".getBytes)
      }
      val t = new HttpTransport(srv.base + "/reader/{url}",
        maxAttempts = 3, initialDelayMs = 5, perHostIntervalMs = 0)
      t.open()
      try {
        assert(t.fetch(srv.base + "/neg", "playwright") == (("ok", "ok2")))
        assert(hits.get() == 2)
      } finally t.close()
    }
  }

  test("HTTP transport: per-host politeness floors the inter-request interval JVM-wide") {
    Loopback.withServer { srv =>
      srv.route("/a") { ex => Loopback.respond(ex, 200, "x".getBytes) }
      val t = new BinaryHttpTransport(
        maxAttempts = 1, initialDelayMs = 5, perHostIntervalMs = 60)
      t.open()
      try {
        val t0 = System.nanoTime()
        (1 to 3).foreach(_ => t.fetch(srv.base + "/a"))
        val ms = (System.nanoTime() - t0) / 1000000
        assert(ms >= 120, s"3 same-host fetches with a 60ms floor took ${ms}ms")
      } finally t.close()
    }
  }

  test("HTTP transport: the first fetch to a new host does not wait out its floor") {
    Loopback.withServer { srv =>
      srv.route("/a") { ex => Loopback.respond(ex, 200, "x".getBytes) }
      val t = new BinaryHttpTransport(
        maxAttempts = 1, initialDelayMs = 5, perHostIntervalMs = 1500)
      t.open()
      try {
        // every other loopback case names 127.0.0.1, so no earlier
        // fetch has reserved a window for "localhost"
        val t0 = System.nanoTime()
        t.fetch(s"http://localhost:${srv.server.getAddress.getPort}/a")
        val ms = (System.nanoTime() - t0) / 1000000
        assert(ms < 750, s"first fetch to a new host took ${ms}ms under a 1500ms floor")
      } finally t.close()
    }
  }

  test("fetch placement: byHost puts every host in exactly one partition, " +
      "and single-host fetches serialize at the floor with parallelism > 1") {
    import org.apache.spark.sql.functions.{col, expr, spark_partition_id}
    // placement: 40 urls over 4 hosts, 8 partitions → each host's rows
    // land in ONE partition (the property that makes the JVM floor
    // cluster-global); malformed urls key to null without failing
    val reqs = (Seq.tabulate(40)(i => s"http://h${i % 4}.example.com/p/$i") :+
      "::not a url::").toDF("url")
    val spread = Sources.byHost(reqs, 8)
      .withColumn("pid", spark_partition_id())
      .withColumn("host", expr("try_parse_url(url, 'HOST')"))
      .groupBy(col("host"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("pid")).as("n_pids"))
      .select("n_pids").as[Long].collect()
    assert(spread.nonEmpty && spread.forall(_ == 1L), spread.toSeq.toString)
    // serialization: a 5-request single-host frame through the real
    // transport honors the per-host floor end to end, even though the
    // session runs parallel tasks — the server observes monotonic
    // arrivals spaced >= the floor
    Loopback.withServer { srv =>
      val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      srv.route("/p") { ex =>
        arrivals.add(System.nanoTime()); Loopback.respond(ex, 200, "x".getBytes)
      }
      val urls = (1 to 5).map(i => srv.base + s"/p?i=$i").toDF("url")
      val got = Sources.fetchBinary(urls,
          new BinaryHttpTransport(maxAttempts = 1, perHostIntervalMs = 60),
          hostPartitions = 2)
        .select("status").as[String].collect()
      assert(got.length == 5 && got.forall(_ == "ok"))
      val ts = arrivals.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      val gaps = ts.sliding(2).map(p => (p(1) - p(0)) / 1000000).toSeq
      assert(gaps.forall(_ >= 45), s"same-host fetches under the 60ms floor: $gaps")
    }
  }

  test("Binary HTTP transport: payload bytes round-trip and magic-classify") {
    Loopback.withServer { srv =>
      val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 9, 9).map(_.toByte)
      srv.route("/i.jpg") { ex => Loopback.respond(ex, 200, jpeg) }
      val got = Sources.fetchBinary(Seq(srv.base + "/i.jpg").toDF("url"),
          new BinaryHttpTransport(maxAttempts = 1, perHostIntervalMs = 0))
        .withColumn("kind", Multimodal.mediaKind(org.apache.spark.sql.functions.col("payload")))
        .select("status", "n_bytes", "kind")
        .as[(String, Int, String)].collect().head
      assert(got == (("ok", 6, "jpeg")))
    }
  }
}

/** Minimal loopback HTTP server (JDK built-in) for transport tests —
  * zero external network, ephemeral port.
  */
object Loopback {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  final class Srv(val server: HttpServer) {
    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def route(path: String)(h: HttpExchange => Unit): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        try h(ex) finally ex.close()
      })
  }

  def withServer(f: Srv => Unit): Unit = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.start()
    try f(new Srv(server)) finally server.stop(0)
  }

  def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
      body: Array[Byte], headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) { val os = ex.getResponseBody; os.write(body); os.close() }
  }
}

/** Builders for real (lexically valid, xref included) fixture PDFs:
  * one page object + one /Contents stream per page, Flate-compressed
  * or plain.
  */
object PdfFixtures {
  /** Delegates to the production builder (round 16: the fixture
    * generator moved into main as graft.functions.PdfBuild for the
    * oracle-verified pdf_extract round-trip); note the builder escapes
    * string-delimiter chars, so fixture texts here are literal.
    */
  def makePdf(pageTexts: Seq[String], compress: Boolean): Array[Byte] =
    graft.functions.PdfBuild.makePdf(pageTexts, _ => compress)
}

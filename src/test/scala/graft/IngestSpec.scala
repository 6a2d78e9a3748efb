package graft

import graft.ingest.{Ingest, JsonStat}
import graft.ingest.Ingest.{FetchException, Fetcher, UrlFetcher}

/** Fetch layer semantics on the file:// double and stub transports —
  * URL building (repeated list params), retry/backoff schedule, the
  * timeout/permanent-failure paths, and the end-to-end file-fetch →
  * JsonStat.decode pipeline. The engine core stays network-free: only
  * the driver-side Fetcher knows transports exist.
  */
class IngestSpec extends SparkSpec {

  private val payload =
    """{
      |  "id": ["geo", "time"],
      |  "size": [2, 3],
      |  "value": {"0": 100.0, "4": 250.0},
      |  "dimension": {
      |    "geo":  {"category": {"index": {"DE": 0, "FR": 1},
      |                          "label": {"DE": "Germany", "FR": "France"}}},
      |    "time": {"category": {"index": {"2020": 0, "2021": 1, "2022": 2},
      |                          "label": {"2020": "2020", "2021": "2021", "2022": "2022"}}}
      |  }
      |}""".stripMargin

  test("buildUrl repeats list params and encodes values (reference query shape)") {
    val url = Ingest.buildUrl("https://api.example/data", "une_rt_m",
      Seq("geo" -> "DE", "geo" -> "FR", "s adj" -> "SA"))
    assert(url ==
      "https://api.example/data/une_rt_m?format=JSON&lang=en&geo=DE&geo=FR&s+adj=SA")
  }

  test("file:// double flows end to end: fetch -> frame -> distributed decode") {
    val f = fixtureDir("graft-ingest").resolve("payload.json")
    java.nio.file.Files.writeString(f, payload)
    // fetchDatasets builds <base>/<code>?... — file URLs have no query
    // support, so drive the two layers the way a caller composes them
    val body = Ingest.fetchWithRetry(new UrlFetcher, f.toUri.toString)
    import spark.implicits._
    val frame = Seq(("une_rt_m", body)).toDF("dataset_code", "payload")
    val rows = JsonStat.decode(frame, Seq("geo", "time")).collect()
    assert(rows.length == 2) // the sparse cells, decoded on executors
  }

  test("transient failures retry with exponential backoff, then succeed") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val flaky = new Fetcher {
      def get(url: String, timeoutMillis: Int): String = {
        calls += 1
        if (calls < 3) throw new java.net.SocketTimeoutException("read timed out")
        "ok"
      }
    }
    val out = Ingest.fetchWithRetry(flaky, "http://x", maxAttempts = 3,
      backoffMillis = 100, sleep = sleeps.append(_))
    assert(out == "ok" && calls == 3)
    assert(sleeps.toSeq == Seq(100L, 200L)) // 1x, 2x
  }

  test("timeouts exhaust maxAttempts and surface the attempt count") {
    var calls = 0
    val dead = new Fetcher {
      def get(url: String, timeoutMillis: Int): String = {
        calls += 1
        throw new java.net.SocketTimeoutException("connect timed out")
      }
    }
    val e = intercept[java.io.IOException] {
      Ingest.fetchWithRetry(dead, "http://x", maxAttempts = 3,
        backoffMillis = 1, sleep = _ => ())
    }
    assert(calls == 3)
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("permanent HTTP failures do not retry; 5xx/429 do") {
    var calls = 0
    val notFound = new Fetcher {
      def get(url: String, timeoutMillis: Int): String = {
        calls += 1
        throw new FetchException("HTTP 404", 404)
      }
    }
    intercept[FetchException] {
      Ingest.fetchWithRetry(notFound, "http://x", maxAttempts = 3, sleep = _ => ())
    }
    assert(calls == 1) // no retry on a permanent failure
    assert(new FetchException("", 503).retriable)
    assert(new FetchException("", 429).retriable)
    assert(!new FetchException("", 403).retriable)
  }

  test("fetchDatasets lands one payload row per dataset, name-ordered") {
    val byUrl = new Fetcher {
      def get(url: String, timeoutMillis: Int): String =
        if (url.contains("une_rt_m")) payload else """{"id":[],"size":[],"value":{}}"""
    }
    val frame = Ingest.fetchDatasets(spark, byUrl, "https://api.example/data",
      Map("une_rt_m" -> Seq("geo" -> "DE"), "nama_10_gdp" -> Seq()))
    val rows = frame.collect().map(r => (r.getString(0), r.getString(1).length))
    assert(rows.map(_._1).toSeq == Seq("nama_10_gdp", "une_rt_m"))
    assert(rows.find(_._1 == "une_rt_m").get._2 == payload.length)
  }
}

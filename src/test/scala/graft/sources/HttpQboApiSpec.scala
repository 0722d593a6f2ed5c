package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec
import graft.sources.PaginatedRest._

/** The real-HTTP boundary, exercised against an in-process localhost
  * server (JDK HttpServer — real sockets, zero egress): paginated GET with
  * bearer auth, the QueryResponse envelope unwrap, 429/Retry-After backoff,
  * and the OAuth2 Basic-auth token round-trip feeding RefreshingToken. */
class HttpQboApiSpec extends SparkSpec {

  /** QBO-shaped fixture server: /token (client-credentials) + /query
    * (paginated SELECT with STARTPOSITION/MAXRESULTS). */
  private def withServer(total: Int, throttleFirst: Int = 0)(
      body: (String, ServerState) => Unit): Unit = {
    val state = new ServerState
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.createContext("/token", (ex: HttpExchange) => {
      state.tokenCalls.incrementAndGet()
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "cid:secret".getBytes(StandardCharsets.UTF_8))
      val bodyIn = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      if (auth != expected || !bodyIn.contains("grant_type="))
        respond(ex, 401, """{"error":"invalid_client"}""")
      else respond(ex, 200,
        """{"access_token":"tok-1","token_type":"bearer","expires_in":3600}""")
    })
    server.createContext("/query", (ex: HttpExchange) => {
      state.queryCalls.incrementAndGet()
      if (ex.getRequestHeaders.getFirst("Authorization") != "Bearer tok-1")
        respond(ex, 401, """{"Fault":{"type":"AUTHENTICATION"}}""")
      else if (state.throttlesLeft.getAndDecrement() > 0) {
        ex.getResponseHeaders.add("Retry-After", "1")
        respond(ex, 429, """{"Fault":{"type":"THROTTLED"}}""")
      } else {
        val q = java.net.URLDecoder.decode(
          ex.getRequestURI.getRawQuery.stripPrefix("query="),
          StandardCharsets.UTF_8)
        val Pat = ".*STARTPOSITION (\\d+) MAXRESULTS (\\d+).*".r
        val Pat(startS, maxS) = q: @unchecked
        val from = startS.toInt
        val to = math.min(from + maxS.toInt - 1, total)
        val recs = if (from > total) Seq.empty
          else (from to to).map(i =>
            s"""{"Id":"$i","DisplayName":"Customer $i","MetaData":
               {"LastUpdatedTime":"2025-08-0${i % 9 + 1}T16:52:08-07:00"}}""")
        respond(ex, 200,
          s"""{"QueryResponse":{"Customer":[${recs.mkString(",")}],
             "startPosition":$from,"maxResults":${recs.size}}}""")
      }
    })
    state.throttlesLeft.set(throttleFirst)
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", state)
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("real HTTP paginated scan: OAuth round-trip once, 29 records, bearer enforced") {
    withServer(total = 29) { (base, state) =>
      val tokens = new RefreshingToken(
        HttpQboApi.oauthTokenFetch(s"$base/token", "cid", "secret"),
        shareKey = Some(s"cid@$base")) // JVM-wide: one round-trip per executor
      val fetcher = HttpQboApi.HttpPageFetcher(s"$base/query", "Customer", tokens)
      val df = PaginatedRest.read(spark, fetcher, pageSize = 100)
      assert(df.count() == 29)
      // one token round-trip serves every page (cached until expiry)
      assert(state.tokenCalls.get() == 1,
        s"token endpoint hit ${state.tokenCalls.get()} times")
      val ids = df.selectExpr("get_json_object(record, '$.Id')")
        .collect().map(_.getString(0).toInt).toSet
      assert(ids == (1 to 29).toSet)
      df.unpersist()
    }
  }

  test("multi-page HTTP scan honors STARTPOSITION windows") {
    withServer(total = 250) { (base, state) =>
      val fetcher = HttpQboApi.HttpPageFetcher(s"$base/query", "Customer",
        StaticToken("tok-1"))
      val df = PaginatedRest.read(spark, fetcher, pageSize = 100, wave = 2)
      assert(df.count() == 250)
      val pages = df.groupBy("page_number").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pages == Map(1L -> 100L, 2L -> 100L, 3L -> 50L))
      // fetch-once: two waves of two pages (the last one empty), and
      // neither the read's page-size jobs nor the two actions above
      // re-invoke the network
      assert(state.queryCalls.get() == 4,
        s"query endpoint hit ${state.queryCalls.get()} times for 4 pages")
      df.unpersist()
    }
  }

  test("HTTP 429 maps to ThrottledException honoring Retry-After") {
    withServer(total = 5, throttleFirst = 2) { (base, state) =>
      val retry = RetryPolicy(maxRetries = 3,
        sleeper = HttpSleepRecorder.record)
      HttpSleepRecorder.queue.clear()
      val fetcher = HttpQboApi.HttpPageFetcher(s"$base/query", "Customer",
        StaticToken("tok-1"))
      val df = PaginatedRest.read(spark, fetcher, pageSize = 100, retry = retry)
      assert(df.count() == 5)
      // two throttles → two sleeps of Retry-After: 1s = 1000 ms
      val slept = HttpSleepRecorder.queue.toArray(Array.empty[java.lang.Long])
      assert(slept.count(_ == 1000L) == 2,
        s"expected two 1000ms Retry-After sleeps, got ${slept.mkString(",")}")
      // one wave of 8 pages (only the first holds records), each fetched
      // once, plus the two throttled attempts
      assert(state.queryCalls.get() == 8 + 2,
        s"query endpoint hit ${state.queryCalls.get()} times")
      df.unpersist()
    }
  }

  test("non-200/429 responses fail the task (no silent empty page)") {
    withServer(total = 5) { (base, _) =>
      val fetcher = HttpQboApi.HttpPageFetcher(s"$base/query", "Customer",
        StaticToken("wrong-token"))
      intercept[Exception] {
        PaginatedRest.read(spark, fetcher, pageSize = 100).count()
      }
    }
  }
}

/** Server-side counters live at top level so executor-thread handlers and
  * the test share them without capturing the suite. */
final class ServerState {
  val tokenCalls = new AtomicInteger(0)
  val queryCalls = new AtomicInteger(0)
  val throttlesLeft = new AtomicInteger(0)
}

/** Serializable sleeper (a suite-local lambda would capture the suite). */
object HttpSleepRecorder {
  val queue = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val record: Long => Unit = ms => { queue.add(ms); () }
}

package graft.tick

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Wire-level smoke test: the reference README's curl lifecycle
  * (README.md:15-60) against a live [[TickHttpServer]] — create →
  * ingest → query → get → delete → drop — plus the route table's error
  * statuses (`main.go:56-58`, `handlers.go:102-104,163`).
  */
class TickHttpSpec extends SparkSpec {

  private lazy val store: TickStore = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_test_http"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    new TickStore(root)
  }

  private lazy val port: Int = {
    val server = new TickHttpServer(spark, store, port = 0)
    val p = server.start()
    sys.addShutdownHook(server.stop())
    p
  }

  private def http(method: String, path: String, body: Option[String] = None): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (status, text)
  }

  test("README curl lifecycle over HTTP") {
    assert(http("GET", "/")._2.contains("Welcome"))

    // create database (README.md:18-20)
    assert(http("PUT", "/testdb")._1 == 201)
    assert(http("GET", "/_all_dbs") == (200, """["testdb"]"""))
    assert(http("GET", "/testdb")._2.contains(""""db_name":"testdb""""))

    // insert data (README.md:22-28)
    val (ingestStatus, ingestBody) = http("POST", "/testdb", Some(
      """[{"index":"index1", "time":"2016-08-28T21:24:00Z", "value":{"open": 10.1, "close": 10.2}},
        | {"index":"index1", "time":"2016-08-28T21:25:30Z", "value":{"open": 10.3, "close": 10.4}},
        | {"index":"index1", "time":"2016-08-28T21:26:00Z", "value":{"open": 10.5}}]""".stripMargin))
    assert(ingestStatus == 200)
    assert(ingestBody == "\"success\"")

    // get data (README.md:30-33; the route takes /{db}/{index}/{time},
    // handlers.go:98-112)
    assert(http("GET", "/testdb/index1/2016-08-28T21:26:00Z") ==
      (200, """{"open":10.5}"""))
    // missing point is the reference's 500 Server Error path
    assert(http("GET", "/testdb/index1/2016-08-28T21:26:01Z")._1 == 500)
    // bad time is a 400 (handlers.go:102-104)
    val (badStatus, badBody) = http("GET", "/testdb/index1/definitely-not-a-time")
    assert(badStatus == 400 && badBody.contains("Bad time format"))

    // build query (README.md:35-46): 2-minute avg of open
    val (qStatus, qBody) = http("POST", "/testdb/_query", Some(
      """{"index": "index1",
        |"from":"2016-08-28T08:00:00Z", "to":"2016-08-31T18:00:59Z",
        |"group": "2minutes",
        |"fields":{"open": {"reducer":"avg"}}}""".stripMargin))
    assert(qStatus == 200)
    assert(qBody ==
      """[{"Timestamp":1472419440000000000,"Value":{"open":10.2}},""" +
      """{"Timestamp":1472419560000000000,"Value":{"open":10.5}}]""")

    // delete data (README.md:48-54), half-open range
    val (delStatus, _) = http("DELETE", "/testdb/index1", Some(
      """{"from":"2016-08-28T21:25:00Z", "to":"2016-08-28T21:26:00Z"}"""))
    assert(delStatus == 201)
    assert(store.readIndex(spark, "testdb", "index1").count() == 2)
    // missing from/to is the reference's odd 500 "Time 'to' Error"
    val (reqStatus, reqBody) =
      http("DELETE", "/testdb/index1", Some("""{"from":"2016-08-28T21:25:00Z"}"""))
    assert(reqStatus == 500 && reqBody.contains("Time 'to' Error"))

    // drop index, drop db (route table main.go:31,35)
    assert(http("DELETE", "/testdb/index1/_all")._1 == 201)
    assert(store.listIndexes(spark, "testdb").isEmpty)
    assert(http("DELETE", "/testdb/_all")._1 == 201)
    assert(http("GET", "/_all_dbs") == (200, "[]"))

    // unmatched route renders the reference's no_handler 400
    val (nhStatus, nhBody) = http("POST", "/a/b/c/d")
    assert(nhStatus == 400 && nhBody.contains("no_handler"))
  }

  test("stop() leaves no server thread alive") {
    def threads = Thread.getAllStackTraces.keySet.asScala.toSet
    store // session and store up first: only the server's threads are new
    val before = threads
    val server = new TickHttpServer(spark, store, port = 0)
    val sport = server.start()
    // one request so the handler pool has started a worker
    val conn = new java.net.URL(s"http://127.0.0.1:$sport/")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    assert(conn.getResponseCode == 200)
    conn.disconnect()
    server.stop()
    // the server's own threads are the non-daemon ones it started; a
    // live one keeps the JVM from exiting
    val started = (threads -- before).filterNot(_.isDaemon)
    started.foreach(_.join(5000))
    val alive = started.filter(_.isAlive)
    assert(alive.isEmpty, s"alive after stop(): ${alive.map(_.getName).mkString(", ")}")
  }

  test("raw range queries past the render cap return 413, within it stream fine") {
    // a second server with a tiny cap, so the test doesn't need 100k rows
    val cappedStoreRoot = s"${sys.props("java.io.tmpdir")}/graft_test_http_cap"
    val cp = new org.apache.hadoop.fs.Path(cappedStoreRoot)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
    val cappedStore = new TickStore(cappedStoreRoot)
    val capped = new TickHttpServer(spark, cappedStore, port = 0, maxQueryRows = 5)
    val cport = capped.start()
    try {
      def chttp(method: String, path: String, body: Option[String]): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$cport$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        body.foreach { b =>
          conn.setDoOutput(true); conn.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val status = conn.getResponseCode
        val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
        val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (status, text)
      }
      assert(chttp("PUT", "/capdb", None)._1 == 201)
      val points = (0 until 20).map(i =>
        f"""{"index":"i1", "time":"2016-08-28T21:${24 + i / 60}%02d:${i % 60}%02dZ", "value":{"v": $i.0}}""")
      assert(chttp("POST", "/capdb", Some(points.mkString("[", ",", "]")))._1 == 200)
      // raw-level (no group) over the whole range: 20 rows > cap 5 -> 413
      val (bigStatus, bigBody) = chttp("POST", "/capdb/_query", Some(
        """{"index": "i1",
          |"from":"2016-08-28T00:00:00Z", "to":"2016-08-29T00:00:00Z",
          |"fields":{"v": {"reducer":"avg"}}}""".stripMargin))
      assert(bigStatus == 413, s"expected 413, got $bigStatus: $bigBody")
      assert(bigBody.contains("result_too_large"), bigBody)
      // a narrowed range under the cap streams normally
      val (okStatus, okBody) = chttp("POST", "/capdb/_query", Some(
        """{"index": "i1",
          |"from":"2016-08-28T21:24:00Z", "to":"2016-08-28T21:24:05Z",
          |"fields":{"v": {"reducer":"avg"}}}""".stripMargin))
      assert(okStatus == 200, s"$okStatus: $okBody")
      assert(okBody.startsWith("""[{"Timestamp":"""), okBody)
      assert("\"Timestamp\"".r.findAllIn(okBody).length == 5, okBody)
    } finally capped.stop()
  }

  test("malformed bodies follow the reference's ignore-unmarshal-errors paths") {
    assert(http("PUT", "/paritydb")._1 == 201)

    // malformed ingest JSON: the reference's bare json.Unmarshal leaves
    // the data slice nil, dbstore no-ops -> 200 "success" (handlers.go:68-74)
    assert(http("POST", "/paritydb", Some("{not json at all")) == (200, "\"success\""))
    // valid JSON but not an array behaves the same (Unmarshal into a
    // slice errors, data stays nil)
    assert(http("POST", "/paritydb", Some("""{"index":"i1"}""")) == (200, "\"success\""))
    // and neither no-op created an index
    assert(store.listIndexes(spark, "paritydb").isEmpty)

    // seed one real point so delete paths have an index to hit
    assert(http("POST", "/paritydb", Some(
      """[{"index":"i1", "time":"2016-08-28T21:24:00Z", "value":{"v": 1.0}}]"""))._1 == 200)

    // malformed delete body: nil map -> missing-from/to branch ->
    // 500 "Time 'to' Error" (handlers.go:141-164)
    val (mdStatus, mdBody) = http("DELETE", "/paritydb/i1", Some("{not json"))
    assert(mdStatus == 500 && mdBody.contains("Time 'to' Error"))
    // unparseable 'from' -> 500 "Time 'from' Error" (handlers.go:146)
    val (fStatus, fBody) = http("DELETE", "/paritydb/i1",
      Some("""{"from":"garbage", "to":"2016-08-28T21:25:00Z"}"""))
    assert(fStatus == 500 && fBody.contains("Time 'from' Error"))
    // unparseable 'to' -> 500 "Time 'to' Error" (handlers.go:153)
    val (tStatus, tBody) = http("DELETE", "/paritydb/i1",
      Some("""{"from":"2016-08-28T21:24:00Z", "to":"garbage"}"""))
    assert(tStatus == 500 && tBody.contains("Time 'to' Error"))
    // none of the failed deletes touched the point
    assert(store.readIndex(spark, "paritydb", "i1").count() == 1)

    assert(http("DELETE", "/paritydb/_all")._1 == 201)
  }
}

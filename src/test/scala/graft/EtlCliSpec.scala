package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{EndpointClient, HttpExtract, Main, MetadataStore, Pipeline, PipelineRunner}

/** The CLI entrypoint (reference main.py:282-407's argparse + branch
  * order) and the HTTP extract error contract (api_client.py:48-89's
  * 404/4xx/5xx/timeout discrimination) — both pure layers, pinned
  * without a process or a network.
  */
class EtlCliSpec extends SparkSpecBase {

  // ---- Main.parse: the argparse block ----

  test("parse: the reference's flag surface round-trips") {
    val cfg = Main.parse(Array("--mode", "post_race", "--year", "2024", "--force")).toOption.get
    assert(cfg.mode.contains(Pipeline.PostRace) && cfg.year.contains(2024) && cfg.force)
    val t = Main.parse(Array("--table", "orders", "--year", "1995", "--round", "3")).toOption.get
    assert(t.table.contains("orders") && t.year.contains(1995) && t.round.contains(3))
    val w = Main.parse(Array("--table", "region", "--warehouse", "/tmp/w", "--source", "/tmp/s"))
      .toOption.get
    assert(w.warehouse == "/tmp/w" && w.source == "/tmp/s")
  }

  test("parse: usage errors are loud, never silent no-ops") {
    assert(Main.parse(Array("--mode", "mid_season")).isLeft, "bad mode choice")
    assert(Main.parse(Array("--year", "2024")).isLeft, "neither --mode nor --table")
    assert(Main.parse(Array()).isLeft, "empty invocation")
    assert(Main.parse(Array("--mode", "pre_season", "--frobnicate")).isLeft, "unknown flag")
    assert(Main.parse(Array("--table", "orders", "--year", "twenty")).isLeft, "non-int year")
    assert(Main.parse(Array("--mode", "pre_season", "--round", "3")).isLeft,
      "--round without --table")
    assert(Main.parse(Array("--table", "orders", "--round", "3")).isLeft,
      "--round without --year")
    assert(Main.parse(Array("--table", "--force")).isLeft, "--table missing its value")
  }

  // ---- Main.execute: the branch order against a real runner ----

  private def cliRunner(): (PipelineRunner, String, MetadataStore) = {
    val wh = Files.createTempDirectory("graft_cli_wh_").toString
    val store = new MetadataStore(spark, s"$wh/_metadata")
    val runner = new PipelineRunner(spark, wh, store, Main.specs,
      Main.extracts(sfDir), scopedExtracts = Main.scopedExtracts(sfDir))
    (runner, wh, store)
  }

  test("cli: --mode pre_season loads the dimension DAG in order, exit 0") {
    val (runner, _, _) = cliRunner()
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val code = Main.execute(Main.parse(Array("--mode", "pre_season")).toOption.get,
      runner, out.append(_))
    assert(code == 0)
    // region → nation → customer all published
    assert(runner.table("customer").count() ==
      spark.read.parquet(s"$sfDir/customer.parquet").count())
    assert(out.count(_.startsWith("loaded")) == 3)
  }

  test("cli: --table wins over --mode (the reference's branch order); rows land") {
    val (runner, wh, _) = cliRunner()
    val code = Main.execute(
      Main.parse(Array("--mode", "pre_season", "--table", "region")).toOption.get, runner)
    assert(code == 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/region")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/nation")),
      "--table must run exactly one entity, not the mode DAG")
  }

  test("cli: --table --year --round is a period-scoped backfill, watermark untouched") {
    val (runner, wh, store) = cliRunner()
    // establish a full orders load + its watermark first
    assert(Main.execute(Main.parse(Array("--mode", "post_race")).toOption.get, runner) == 0)
    val before = runner.table("orders").count()
    val wmBefore = store.watermark("orders")
    val cfg = Main.parse(Array("--table", "orders", "--year", "1995", "--round", "3")).toOption.get
    val out = scala.collection.mutable.ListBuffer.empty[String]
    assert(Main.execute(cfg, runner, out.append(_)) == 0)
    // idempotent repair: same rows, nothing duplicated, watermark unchanged
    assert(runner.table("orders").count() == before)
    assert(store.watermark("orders") == wmBefore)
    // backfill reports the MERGED table count (its API contract: full
    // table for unpartitioned targets), and the repaired slice must be
    // non-empty for the test to mean anything
    assert(out.head == s"backfilled orders (round,3), (year,1995): $before rows")
    assert(spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(year(col("o_orderdate")) === 1995 && month(col("o_orderdate")) === 3)
      .count() > 0, "the 1995-03 slice must exist in the testdata")
  }

  test("cli: a failing extract exits 1 (the reference's tables_failed contract)") {
    val wh = Files.createTempDirectory("graft_cli_wh_").toString
    val poison: Map[String, Pipeline.Extract] =
      Main.extracts(sfDir) + ("region" -> ((_, _) => throw new RuntimeException("boom")))
    val runner = new PipelineRunner(spark, wh,
      new MetadataStore(spark, s"$wh/_metadata"), Main.specs, poison)
    assert(Main.execute(Main.parse(Array("--mode", "pre_season")).toOption.get,
      runner, _ => ()) == 1)
  }

  // ---- HttpExtract: the four branches of api_client.py:48-89 ----

  private def scripted(rs: HttpExtract.Response*): () => HttpExtract.Response = {
    val it = rs.iterator
    () => if (it.hasNext) it.next() else fail("transport called past its script")
  }

  test("http 200: body parses; no sleeps") {
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val r = HttpExtract.request(scripted(HttpExtract.Ok("payload")),
      identity[String], "EMPTY", sleep = slept.append(_))
    assert(r == "payload" && slept.isEmpty)
  }

  test("http 404: the empty result, immediately — no retry, no failure") {
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val r = HttpExtract.request(scripted(HttpExtract.Status(404)),
      identity[String], "EMPTY", sleep = slept.append(_))
    assert(r == "EMPTY" && slept.isEmpty)
  }

  test("http 4xx: fatal on the first attempt, never retried") {
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val e = intercept[Pipeline.FatalExtractException] {
      HttpExtract.request(scripted(HttpExtract.Status(403, "forbidden")),
        identity[String], "EMPTY", sleep = slept.append(_))
    }
    assert(e.getMessage.contains("403") && slept.isEmpty)
  }

  test("http 5xx: retries with the reference's exponential backoff, then succeeds") {
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val r = HttpExtract.request(
      scripted(HttpExtract.Status(500), HttpExtract.Status(503), HttpExtract.Ok("ok")),
      identity[String], "EMPTY", maxAttempts = 3, sleep = slept.append(_))
    // delay ** attempt with attempt from 0 (api_client.py:63): the first
    // retry waits 100·2⁰, the second 100·2¹ — one sleep per retry
    assert(r == "ok" && slept.toSeq == Seq(100L, 200L))
  }

  test("http timeout/transport: exhausting maxAttempts raises the terminal error") {
    val slept = scala.collection.mutable.ListBuffer.empty[Long]
    val e = intercept[HttpExtract.ExhaustedException] {
      HttpExtract.request(
        scripted(HttpExtract.Failed("timed out"), HttpExtract.Failed("timed out"),
          HttpExtract.Failed("timed out")),
        identity[String], "EMPTY", maxAttempts = 3, sleep = slept.append(_))
    }
    assert(e.getMessage.contains("timed out") && e.getMessage.contains("3 attempts"))
    assert(slept.toSeq == Seq(100L, 200L), "no sleep after the final attempt")
  }

  test("http extract: the 404 branch flows into a DataFrame-producing Extract as the empty table") {
    import spark.implicits._
    val ex = HttpExtract.extract(
      _ => scripted(HttpExtract.Status(404)),
      (s, body) => body match {
        case Some(b) => Seq(b).toDF("payload")
        case None => s.emptyDataset[String].toDF("payload") // the empty-MRData mapping
      })
    assert(ex(spark, None).count() == 0)
    val ok = HttpExtract.extract(
      _ => scripted(HttpExtract.Ok("row1")),
      (_, body) => Seq(body.get).toDF("payload"))
    assert(ok(spark, None).collect().map(_.getString(0)).toSeq == Seq("row1"))
  }

  test("testConnection: reachable endpoints (incl. 404) are true; terminal failures are false") {
    // 200 → true; 404 proves the endpoint answered → true (reference
    // test_connection only checks the envelope arrived)
    assert(HttpExtract.testConnection(scripted(HttpExtract.Ok("{}")),
      sleep = _ => ()))
    assert(HttpExtract.testConnection(scripted(HttpExtract.Status(404)),
      sleep = _ => ()))
    // a 5xx that recovers within the retry budget is reachable
    assert(HttpExtract.testConnection(
      scripted(HttpExtract.Status(500), HttpExtract.Ok("{}")), sleep = _ => ()))
    // exhausted retries and fatal 4xx map to false, not an exception
    // (the reference catches JolpicaAPIError and returns False)
    assert(!HttpExtract.testConnection(
      scripted(HttpExtract.Failed("t"), HttpExtract.Failed("t"), HttpExtract.Failed("t")),
      maxAttempts = 3, sleep = _ => ()))
    assert(!HttpExtract.testConnection(scripted(HttpExtract.Status(403, "forbidden")),
      sleep = _ => ()))
  }

  test("EndpointClient: typed accessors hit the reference's exact paths under the request contract") {
    // path resolution is the accessors' whole job — pin each wrapper to
    // the reference's endpoint string (api_client.py:94-166)
    assert(EndpointClient.raceResultsPath(2024, 5) == "/2024/5/results.json")
    assert(EndpointClient.qualifyingResultsPath(2024, 5) == "/2024/5/qualifying.json")
    assert(EndpointClient.sprintResultsPath(2024, 5) == "/2024/5/sprint.json")
    assert(EndpointClient.driverStandingsPath(2024, Some(5)) == "/2024/5/driverStandings.json")
    assert(EndpointClient.driverStandingsPath(2024) == "/2024/driverStandings.json")
    assert(EndpointClient.constructorStandingsPath(2024, Some(5)) == "/2024/5/constructorStandings.json")
    assert(EndpointClient.constructorStandingsPath(2024) == "/2024/constructorStandings.json")
    assert(EndpointClient.seasonsPath(1) == "/seasons.json?limit=1")

    // a recording transport proves each method requests ITS path and
    // flows through the shared contract (404 -> None = the reference's
    // empty branch, e.g. a round with no sprint)
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    val client = new EndpointClient(
      path => { hits += path
        if (path.contains("sprint")) HttpExtract.Status(404) else HttpExtract.Ok(s"body:$path") },
      sleep = _ => ())
    assert(client.raceResults(2024, 5).contains("body:/2024/5/results.json"))
    assert(client.qualifyingResults(2024, 5).contains("body:/2024/5/qualifying.json"))
    assert(client.sprintResults(2024, 5).isEmpty, "404 sprint -> the empty branch")
    assert(client.driverStandings(2024).contains("body:/2024/driverStandings.json"))
    assert(client.constructorStandings(2024, Some(5)).contains("body:/2024/5/constructorStandings.json"))
    assert(client.testConnection())
    assert(hits.head == "/2024/5/results.json" && hits.last == "/seasons.json?limit=1")

    // the retry policy reaches the typed surface: 500 then 200 recovers
    var calls = 0
    val flaky = new EndpointClient(
      _ => { calls += 1; if (calls == 1) HttpExtract.Status(500) else HttpExtract.Ok("ok") },
      sleep = _ => ())
    assert(flaky.raceResults(2023, 1).contains("ok") && calls == 2)
    // and a fatal 4xx is never retried
    val fatal = new EndpointClient(_ => HttpExtract.Status(403, "forbidden"), sleep = _ => ())
    intercept[Pipeline.FatalExtractException] { fatal.raceResults(2023, 1) }
  }

  test("rawZipUrl: resolves the dumps index to delayed_dumps.csv.download_url (api_client.py:167-171)") {
    // the index path is the reference's literal dumps URL form
    assert(EndpointClient.dumpsIndexPath == "/data/dumps/download/")
    // scripted fake: the index JSON with the reference's exact shape
    val index =
      """{"delayed_dumps": {"csv": {"download_url": "https://example.test/dumps/f1.zip",
        |  "size": 123}, "json": {"download_url": "https://example.test/dumps/f1.json.zip"}},
        | "live_dumps": {}}""".stripMargin
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    val client = new EndpointClient(
      path => { hits += path; HttpExtract.Ok(index) }, sleep = _ => ())
    assert(client.rawZipUrl().contains("https://example.test/dumps/f1.zip"),
      "the CSV dump's url, not the JSON dump's")
    assert(hits == Seq("/data/dumps/download/"))
    // 404 → None (no dump published); the fetch half is CsvSource.fromZip's
    val gone = new EndpointClient(_ => HttpExtract.Status(404), sleep = _ => ())
    assert(gone.rawZipUrl().isEmpty)
    // a well-formed index MISSING the field fails loudly, never null
    val odd = new EndpointClient(_ => HttpExtract.Ok("""{"delayed_dumps": {}}"""),
      sleep = _ => ())
    val e = intercept[IllegalArgumentException] { odd.rawZipUrl() }
    assert(e.getMessage.contains("delayed_dumps.csv.download_url"))
    // retry policy reaches this accessor too: 500 then the index recovers
    var calls = 0
    val flaky2 = new EndpointClient(
      _ => { calls += 1
        if (calls == 1) HttpExtract.Status(500) else HttpExtract.Ok(index) },
      sleep = _ => ())
    assert(flaky2.rawZipUrl().nonEmpty && calls == 2)
  }
}

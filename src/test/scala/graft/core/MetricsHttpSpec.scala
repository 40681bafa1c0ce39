package graft.core

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Live-HTTP spec for the `/metrics` scrape surface: starts the real
  * server on an ephemeral port and GETs it the way a Prometheus scraper
  * (or `curl`) would. */
class MetricsHttpSpec extends AnyFunSuite {

  test("serves reference-named series in Prometheus text format") {
    Metrics.reset()
    Metrics.observe("events_cdc", "loader_seconds", 12.5)
    Metrics.observe("events_cdc", "loader_seconds", 7.5)
    Metrics.add("events_cdc", "batcher_messages_processed", 10000L)
    Metrics.gauge("events_cdc", "loader_running", 1.0)
    val srv = MetricsHttp.start()
    try {
      val src = Source.fromURL(srv.url, "UTF-8")
      val body = try src.mkString finally src.close()
      assert(body.contains(
        """rsk_loader_seconds_sum{table="events_cdc"} 20"""))
      assert(body.contains(
        """rsk_loader_seconds_count{table="events_cdc"} 2"""))
      // the max extension is its OWN gauge family — `_max` inside a
      // histogram family group violates the text-format grouping rule
      assert(body.contains("# TYPE rsk_loader_seconds_max gauge"))
      assert(body.contains(
        """rsk_loader_seconds_max{table="events_cdc"} 12.5"""))
      assert(body.indexOf("rsk_loader_seconds_max") >
        body.indexOf("""rsk_loader_seconds_count"""),
        "_max family must render after the histogram family")
      val histBlock = body.substring(
        body.indexOf("# TYPE rsk_loader_seconds histogram"),
        body.indexOf("# TYPE rsk_loader_seconds_max"))
      assert(!histBlock.contains("_max{"),
        "no _max sample inside the histogram family group")
      assert(body.contains(
        """rsk_batcher_messages_processed_sum{table="events_cdc"} 10000"""))
      assert(body.contains("""rsk_loader_running_sum{table="events_cdc"} 1"""))
      // *_seconds streams are real histograms (reference 10–900 s bounds)
      assert(body.contains("# TYPE rsk_loader_seconds histogram"))
      assert(body.contains(
        """rsk_loader_seconds_bucket{table="events_cdc",le="10"} 1"""))
      assert(body.contains(
        """rsk_loader_seconds_bucket{table="events_cdc",le="30"} 2"""))
      assert(body.contains(
        """rsk_loader_seconds_bucket{table="events_cdc",le="900"} 2"""))
      assert(body.contains(
        """rsk_loader_seconds_bucket{table="events_cdc",le="+Inf"} 2"""))
      // batcher byte/message streams are histograms too — the reference
      // registers them with Prometheus DefBuckets
      // (pkg/redshiftbatcher/metrics.go:8–25)
      assert(body.contains("# TYPE rsk_batcher_messages_processed histogram"))
      Seq("0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "0.5", "1",
        "2.5", "5", "10").foreach(le =>
        assert(body.contains(
          s"""rsk_batcher_messages_processed_bucket{table="events_cdc",le="$le"} 0"""),
          s"DefBucket le=$le"))
      assert(body.contains(
        """rsk_batcher_messages_processed_bucket{table="events_cdc",le="+Inf"} 1"""))
      // genuinely bucket-less streams stay summaries
      assert(body.contains("# TYPE rsk_loader_running summary"))
      assert(!body.contains("rsk_loader_running_bucket"))
    } finally {
      srv.stop()
      Metrics.reset()
    }
  }

  test("the five merge-phase series export reference-bound buckets") {
    Metrics.reset()
    val phases = Seq("copystage", "dedupe", "deletecommon", "deleteop",
      "copytarget")
    // one fast observation + one mid-bucket one per phase
    phases.foreach { p =>
      Metrics.observe("events_cdc", s"loader_${p}_seconds", 0.4)
      Metrics.observe("events_cdc", s"loader_${p}_seconds", 150.0)
    }
    val out = MetricsHttp.render(Metrics.snapshot())
    phases.foreach { p =>
      assert(out.contains(s"# TYPE rsk_loader_${p}_seconds histogram"))
      // 0.4 lands in every bucket; 150 first lands in le=180
      assert(out.contains(
        s"""rsk_loader_${p}_seconds_bucket{table="events_cdc",le="10"} 1"""))
      assert(out.contains(
        s"""rsk_loader_${p}_seconds_bucket{table="events_cdc",le="120"} 1"""))
      assert(out.contains(
        s"""rsk_loader_${p}_seconds_bucket{table="events_cdc",le="180"} 2"""))
      assert(out.contains(
        s"""rsk_loader_${p}_seconds_bucket{table="events_cdc",le="+Inf"} 2"""))
      // all ten reference bounds present
      Seq(10, 30, 60, 120, 180, 240, 300, 480, 600, 900).foreach(le =>
        assert(out.contains(
          s"""rsk_loader_${p}_seconds_bucket{table="events_cdc",le="$le"}""")))
    }
    Metrics.reset()
  }

  test("seconds histograms resolve sub-10 s triggers beside the reference bounds") {
    Metrics.reset()
    Metrics.observe("events_cdc", "loader_seconds", 0.3)
    Metrics.observe("events_cdc", "loader_seconds", 1.5)
    val out = MetricsHttp.render(Metrics.snapshot())
    def bucket(le: String): String =
      s"""rsk_loader_seconds_bucket{table="events_cdc",le="$le"} """
    assert(out.contains(bucket("0.25") + "0"))
    assert(out.contains(bucket("0.5") + "1"))
    assert(out.contains(bucket("1") + "1"))
    assert(out.contains(bucket("2.5") + "2"))
    Seq(10, 30, 60, 120, 180, 240, 300, 480, 600, 900).foreach(le =>
      assert(out.contains(bucket(le.toString) + "2"), s"reference le=$le"))
    Metrics.reset()
  }

  test("label values are escaped and multiple tables sort stably") {
    Metrics.reset()
    Metrics.observe("a\"b\\c", "loader_seconds", 1.0)
    Metrics.observe("zz", "loader_seconds", 2.0)
    val out = MetricsHttp.render(Metrics.snapshot())
    assert(out.contains("""{table="a\"b\\c"}"""))
    assert(out.indexOf("""table="a\"b\\c"""") <
      out.indexOf("""table="zz""""))
    Metrics.reset()
  }
}

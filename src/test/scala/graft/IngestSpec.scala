package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.RawLocalFileSystem

import graft.sources.Ingest

/** S1 ingest (extraction_to_local.py:6-47) against a fixture transport:
  * the metadata parse, URL-decode + date-regex naming, last-wins
  * filename dedup, parallel fetch, and on-disk results. */
class IngestSpec extends SparkSpec {
  import IngestSpec._

  test("filename rule: decoded date range, unknown fallback") {
    assert(Ingest.filenameFor(s"$base/01-01-2023%20to%2031-01-2023.csv")
      === "transport_2023-01.csv")
    assert(Ingest.filenameFor(s"$base/opaque-no-date.csv")
      === "transport_unknown.csv")
    // undecoded space also matches (the reference decodes first; so do we)
    assert(Ingest.filenameFor(s"$base/05-12-2021 to 31-12-2021.csv")
      === "transport_2021-12.csv")
  }

  test("plan: parses distribution, drops URL-less entries, last-wins per filename") {
    val plan = Ingest.plan(spark, metadata)
    assert(plan.map(_.filename).sorted ===
      Seq("transport_2023-01.csv", "transport_2023-02.csv",
        "transport_unknown.csv"))
    // the February republish (later in distribution order) wins
    val feb = plan.find(_.filename == "transport_2023-02.csv").get
    assert(feb.url.contains("republished"))
  }

  test("ingest: fetches through the injected transport and writes the files") {
    val dest = Files.createTempDirectory("graft-ingest").toString
    val manifest = Ingest.ingest(spark, metadata, dest, fetch)
    val rows = manifest.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("transport_2023-01.csv",
      "transport_2023-02.csv", "transport_unknown.csv"))

    def read(name: String) =
      new String(Files.readAllBytes(Paths.get(dest, name)), StandardCharsets.UTF_8)
    assert(read("transport_2023-01.csv") === "jan,rows")
    assert(read("transport_2023-02.csv") === "feb,rows,v2") // last-wins
    assert(read("transport_unknown.csv") === "unknown,rows")
    assert(rows("transport_2023-01.csv") === "jan,rows".length.toLong)
    manifest.unpersist()
  }

  test("ingest: executors write with the session's Hadoop configuration") {
    // the scheme's implementation is known only to this session's conf,
    // not to a fresh Hadoop Configuration; uncached, so the instance
    // fetchTo creates for `mkdirs` cannot answer the executors' lookups
    // (local mode shares one JVM-wide FileSystem cache)
    val impl = s"fs.${SessionOnlyFileSystem.Scheme}.impl"
    val keys = Map(impl -> classOf[SessionOnlyFileSystem].getName,
      s"$impl.disable.cache" -> "true")
    val dest = Files.createTempDirectory("graft-ingest-conf").toString
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      Ingest.ingest(spark, metadata,
        s"${SessionOnlyFileSystem.Scheme}://$dest/landing", fetch).unpersist()
    } finally keys.keys.foreach(spark.conf.unset)
    assert(new String(Files.readAllBytes(Paths.get(dest, "landing",
      "transport_2023-01.csv")), StandardCharsets.UTF_8) === "jan,rows")
  }

  test("ingested CSVs read straight into the S2 scan") {
    val dest = Files.createTempDirectory("graft-ingest-scan").toString
    Ingest.ingest(spark, metadata, dest, fetch).unpersist()
    val df = spark.read.option("header", "true")
      .csv(Paths.get(dest, "transport_2023-02.csv").toString)
    assert(df.columns.toSeq === Seq("feb", "rows", "v2"))
  }
}

/** Fixtures live on the companion so the transport closure ships to
  * executors without dragging the (non-serializable) suite along. */
object IngestSpec {
  val base = "https://example.invalid/files"
  val metadata: String =
    s"""{"title": "fixture dataset", "distribution": [
      {"downloadURL": "$base/01-01-2023%20to%2031-01-2023.csv"},
      {"downloadURL": "$base/01-02-2023%20to%2028-02-2023.csv"},
      {"downloadURL": "$base/opaque-no-date.csv"},
      {"downloadURL": "$base/01-02-2023%20to%2028-02-2023-republished.csv"},
      {"describedBy": "no downloadURL on this entry"}
    ]}"""

  val bodies: Map[String, String] = Map(
    s"$base/01-01-2023 to 31-01-2023.csv" -> "jan,rows",
    s"$base/01-02-2023 to 28-02-2023.csv" -> "feb,rows,v1",
    s"$base/opaque-no-date.csv" -> "unknown,rows",
    s"$base/01-02-2023 to 28-02-2023-republished.csv" -> "feb,rows,v2")

  val fetch: Ingest.Fetch = url =>
    bodies(java.net.URLDecoder.decode(url, StandardCharsets.UTF_8))
      .getBytes(StandardCharsets.UTF_8)
}

/** The local filesystem under its own scheme name, for proving that a
  * filesystem registered only through session conf reaches executors. */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SessionOnlyFileSystem.Scheme}:///")
}

object SessionOnlyFileSystem {
  val Scheme = "graftsession"
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-level guard for the round-10 scale-regression class: an
 * unconditional `repartition` on a text/blob-carrying frame silently
 * re-shuffles the full corpus at 100 TB (the "documents never shuffle"
 * contract's one systemic violation, fixed in r11 by the conditional
 * `FanOut.fanOut`). Plan tests pin the queries that exist; this spec
 * pins the CODE so a new operator can't quietly reintroduce a raw
 * call site: every `.repartition(` in ops/ + queries/ must be one of
 * the frozen, individually-justified sites below. It also keeps raw
 * `read.parquet(` calls out of ops/ + queries/: every table and fixture
 * loads through `model.Tables`, which infers each schema once per session.
 * Every main builds its session through `GraftSession`, ops/ +
 * queries/ read `SPARK_GRAFT_*` settings only through `GraftEnv`,
 * tools/ takes its live topologies from `graft.Topologies`, every
 * driver kernel and model collect is gated by `ops.DriverGate` under
 * its one byte budget, graft's `core-site.xml` is the one place that
 * configures local file I/O, and specs make temp directories only
 * through `SparkSpec`, which deletes them.
 */
class SourceHygieneSpec extends AnyFunSuite {

  private val roots = Seq(
    "src/main/scala/graft/ops", "src/main/scala/graft/queries")

  /** file name -> max allowed `.repartition(` call sites, each one
   *  deliberate and documented at the call site:
   *  - FanOut.scala: THE sanctioned conditional fan-out device;
   *  - SimilarityOps.scala: corpus-capped O(n²) probe-side fan-out
   *    (embeddingNearDups, refuses > maxCorpus);
   *  - JoinOps.scala: post-agg snapshot fan-out for O(fleet²)
   *    proximity pairs (tiny fixed-width frame);
   *  - TextOps.scala: sol_shuffled's exchange-per-hop benchmark chain
   *    (the exchange IS the measured artifact). */
  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq

  private def source(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private val frozen = Map(
    "FanOut.scala" -> 1,
    "SimilarityOps.scala" -> 1,
    "JoinOps.scala" -> 1,
    "TextOps.scala" -> 1)

  test("no new raw .repartition( call sites in ops/ or queries/ — " +
      "heavy per-row stages go through FanOut.fanOut") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    roots.foreach { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .foreach { p: Path =>
          val name = p.getFileName.toString
          val n = "\\.repartition\\(".r
            .findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size
          val allowed = frozen.getOrElse(name, 0)
          if (n > allowed)
            offenders += s"$p: $n raw repartition call sites (allowed $allowed)"
        }
    }
    assert(offenders.isEmpty,
      offenders.mkString(
        "raw repartition on a corpus-carrying frame is the r10 " +
          "scale-killer class — route heavy per-row stages through " +
          "FanOut.fanOut (conditional on scan width) or, for a " +
          "genuinely deliberate exchange, freeze the new site here " +
          "with its justification:\n", "\n", ""))
  }

  test("the frozen sites still exist (stale allowlist rots the guard)") {
    frozen.foreach { case (name, n) =>
      val p = roots.map(r => Paths.get(r, name)).find(Files.exists(_))
      assert(p.isDefined, s"$name in the allowlist but not in ops/ or queries/")
      val got = "\\.repartition\\(".r
        .findAllIn(new String(Files.readAllBytes(p.get), "UTF-8")).size
      assert(got == n,
        s"$name has $got call sites, allowlist says $n — update the freeze")
    }
  }

  test("no raw parquet reads in ops/ or queries/ — tables and fixtures " +
      "load through model.Tables, which infers each schema once per " +
      "session") {
    val offenders = roots.flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .filter(p => "read\\s*\\.parquet\\(".r
          .findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.toString)
    }
    assert(offenders.isEmpty,
      offenders.mkString(
        "a raw spark.read.parquet infers the schema with one Spark job " +
          "per call; read through graft.model.Tables.parquet (or " +
          "Tables.table for an sfDir table) instead:\n", "\n", ""))
  }

  test("SparkSession.builder appears in src/main only inside " +
      "GraftSession.scala — every main shares one session policy") {
    val offenders = scalaFiles("src/main/scala")
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => source(p).contains("SparkSession.builder"))
      .map(_.toString)
    assert(offenders.isEmpty, offenders.mkString(
      "build the session with graft.GraftSession instead:\n", "\n", ""))
    assert(scalaFiles("src/main/scala").exists(p =>
      p.getFileName.toString == "GraftSession.scala" &&
        source(p).contains("SparkSession.builder")),
      "GraftSession.scala no longer holds the builder — the guard is stale")
  }

  test("tools/ composes no topology — live topologies come only from " +
      "graft.Topologies, the table Run serves") {
    val composing = "\\b(StreamOps|TextOps|PageViewOps|AdsbOps|PipelineQueries)\\.".r
    val offenders = scalaFiles("src/main/scala/graft/tools").flatMap { p =>
      composing.findAllIn(source(p)).toSeq.distinct.map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, offenders.mkString(
      "build the topology from a graft.Topologies entry instead:\n", "\n", ""))
  }

  test("ops/ and queries/ read SPARK_GRAFT_* settings only through " +
      "GraftEnv, which rejects malformed values") {
    val literal = "\"SPARK_GRAFT_\\w*\"".r
    val viaHelper = "GraftEnv\\.(long|int)\\(\\s*\"SPARK_GRAFT_\\w*\"".r
    // every name literal must be the first argument of a helper call,
    // so no sys.env read (direct or through a named constant) remains
    val offenders = roots.flatMap(scalaFiles).flatMap { p =>
      val src = source(p)
      val stray = literal.findAllIn(src).size - viaHelper.findAllIn(src).size
      if (stray > 0) Some(s"$p: $stray SPARK_GRAFT_ names outside GraftEnv")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString(
      "read the setting with graft.GraftEnv.long/int instead:\n", "\n", ""))
  }

  test("SPARK_GRAFT_DRIVER_BYTES is the only driver-cap knob in src/main " +
      "and only DriverGate.scala names it; the per-site gate plumbing " +
      "is gone") {
    val knob = "SPARK_GRAFT_DRIVER\\w*|\\w*_DRIVER_VOCAB".r
    val offenders = scalaFiles("src/main/scala").flatMap { p =>
      knob.findAllIn(source(p)).toSeq.distinct
        .filterNot(_ == "SPARK_GRAFT_DRIVER_BYTES" &&
          p.getFileName.toString == "DriverGate.scala")
        .map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, offenders.mkString(
      "size a driver kernel's collect with DriverGate.cap(rowBytes) " +
        "under SPARK_GRAFT_DRIVER_BYTES instead:\n", "\n", ""))
    assert(source(Paths.get("src/main/scala/graft/ops/DriverGate.scala"))
      .contains("\"SPARK_GRAFT_DRIVER_BYTES\""),
      "DriverGate.scala no longer reads the budget — the guard is stale")
    val plumbing = "\\b(rescanGate|collectPairs|collectTriples)\\b".r
    val stale = scalaFiles("src/main/scala").flatMap { p =>
      plumbing.findAllIn(source(p)).toSeq.distinct.map(m => s"$p: $m")
    }
    assert(stale.isEmpty, stale.mkString(
      "collect through DriverGate instead:\n", "\n", ""))
  }

  test("model builds carry no private row cap: maxModelEntries and " +
      "NbMaxModelEntries are gone from src/main, and maxCorpus is left " +
      "only on SimilarityOps.embeddingNearDups' quadratic CPU bound") {
    val privateCap = "\\b(maxModelEntries|NbMaxModelEntries|maxCorpus)\\b".r
    val offenders = scalaFiles("src/main/scala").flatMap { p =>
      privateCap.findAllIn(source(p)).toSeq.distinct
        .filterNot(_ == "maxCorpus" &&
          p.getFileName.toString == "SimilarityOps.scala")
        .map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, offenders.mkString(
      "collect a model through DriverGate (DriverGate.collect where " +
        "nothing falls back) with a driverCap parameter instead:\n",
      "\n", ""))
    assert(source(Paths.get("src/main/scala/graft/ops/SimilarityOps.scala"))
      .contains("maxCorpus"),
      "embeddingNearDups no longer has maxCorpus — the guard is stale")
  }

  test("specs make temp directories only through SparkSpec, which " +
      "deletes them when the test (tempDir) or the suite (suiteDir) ends") {
    // this spec names the call only to search for it
    val offenders = scalaFiles("src/test/scala")
      .filterNot(p => Set("SparkSpec.scala", "SourceHygieneSpec.scala")
        .contains(p.getFileName.toString))
      .filter(p => source(p).contains("createTempDirectory"))
      .map(_.toString)
    assert(offenders.isEmpty, offenders.mkString(
      "use SparkSpec.tempDir or SparkSpec.suiteDir instead:\n", "\n", ""))
  }

  test("core-site.xml sets exactly one property, the FileContext file " +
      "system for file:, to a class that loads") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.addResource(new org.apache.hadoop.fs.Path("src/main/resources/core-site.xml"))
    val props = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    assert(props.keySet == Set("fs.AbstractFileSystem.file.impl"), props)
    Class.forName(props("fs.AbstractFileSystem.file.impl"))
  }

  test("no file in src/main names fs.file.impl or " +
      "checkpointFileManagerClass — core-site.xml alone configures " +
      "local file I/O") {
    val knob = "\\bfs\\.file\\.impl\\b|checkpointFileManagerClass".r
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .flatMap(p => knob.findAllIn(source(p)).toSeq.distinct.map(m => s"$p: $m"))
      .toSeq
    assert(offenders.isEmpty, offenders.mkString(
      "local checkpoint I/O goes through graft.streaming.LocalFs, " +
        "registered in src/main/resources/core-site.xml:\n", "\n", ""))
  }
}

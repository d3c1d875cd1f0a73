package graft

import org.apache.spark.sql.functions._
import graft.sources.Snapshot

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Double, Long)*) =
    rows.toDF("symbol", "date", "close", "version")
      .withColumn("date", to_date($"date"))

  /** Drops a tag: deletes its pin file under `<table>/_tags`. */
  private def dropTag(table: String, name: String): Unit =
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, "_tags", name)): Unit

  private def content(table: String) =
    Snapshot.read(spark, table)
      .select($"symbol", $"date".cast("string"), $"close")
      .as[(String, String, Double)].collect().toSet

  test("commit/read roundtrip restores the partition column with its type") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val v = Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-02", 20.0, 0L)),
        t, Some("date"))
      assert(v == 1)
      val df = Snapshot.read(spark, t)
      assert(df.schema("date").dataType.typeName == "date")
      assert(content(t) == Set(("A", "2024-01-01", 10.0), ("B", "2024-01-02", 20.0)))
    }
  }

  test("merge rewrites only touched partitions; untouched dirs carry by reference") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L)),
        t, Some("date"))
      val d1Dirs = Snapshot.readManifest(t, 1).dirs
      val day1Dir = d1Dirs.find(_.contains("2024-01-01")).get

      Snapshot.merge(batch(("A", "2024-01-02", 99.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      val m2 = Snapshot.readManifest(t, 2)
      assert(m2.dirs.contains(day1Dir), "untouched day must be re-referenced, not rewritten")
      assert(!m2.dirs.exists(d => d != day1Dir && d1Dirs.contains(d)),
        "touched day must point at a NEW directory")
      assert(content(t) == Set(("A", "2024-01-01", 10.0), ("A", "2024-01-02", 99.0)))
    }
  }

  test("a merge that fails mid-write publishes nothing (time travel intact)") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      val before = content(t)
      val bomb = batch(("A", "2024-01-01", 99.0, 1L), ("A", "2024-01-03", 12.0, 1L))
        .withColumn("close",
          when($"close" === 12.0, raise_error(lit("disk full"))).otherwise($"close"))
      intercept[Exception] {
        Snapshot.merge(bomb, t, Seq("symbol", "date"), "version", "date")
      }
      assert(Snapshot.latestVersion(t).contains(1L), "no new version published")
      assert(content(t) == before)
    }
  }

  test("time travel reads retained versions; vacuum drops superseded data") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      Snapshot.merge(batch(("A", "2024-01-01", 42.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      val v1 = Snapshot.read(spark, t, Some(1L))
        .select($"close").as[Double].collect().toSeq
      assert(v1 == Seq(10.0))
      assert(content(t) == Set(("A", "2024-01-01", 42.0)))

      Snapshot.vacuum(t, keepVersions = 1)
      assert(Snapshot.versions(t) == Seq(2L))
      assert(content(t) == Set(("A", "2024-01-01", 42.0)))
      intercept[Exception] { Snapshot.read(spark, t, Some(1L)).collect() }
    }
  }

  test("tags pin versions across vacuum; dropTag releases them; " +
      "re-tagging moves the ref") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      assert(Snapshot.tag(t, "golden") == 1L)
      Snapshot.merge(batch(("A", "2024-01-01", 42.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      Snapshot.merge(batch(("B", "2024-01-02", 7.0, 2L)), t,
        Seq("symbol", "date"), "version", "date")
      assert(Snapshot.tags(t) == Map("golden" -> 1L))
      // vacuum to 1 retained version: the tagged v1 must SURVIVE
      Snapshot.vacuum(t, keepVersions = 1)
      assert(Snapshot.versions(t) == Seq(1L, 3L),
        "tagged v1 pinned, untagged v2 reclaimed")
      assert(Snapshot.readTag(spark, t, "golden")
        .select($"close").as[Double].collect().toSeq == Seq(10.0))
      assert(content(t) == Set(("A", "2024-01-01", 42.0),
        ("B", "2024-01-02", 7.0)))
      // re-tag moves the ref to latest; dropping releases v1 to the
      // next vacuum
      assert(Snapshot.tag(t, "golden") == 3L)
      Snapshot.vacuum(t, keepVersions = 1)
      assert(Snapshot.versions(t) == Seq(3L))
      intercept[Exception] { Snapshot.read(spark, t, Some(1L)) }
      dropTag(t, "golden")
      assert(Snapshot.tags(t).isEmpty)
      // unknown version / bad names refuse
      intercept[IllegalArgumentException] { Snapshot.tag(t, "x", Some(99L)) }
      intercept[IllegalArgumentException] { Snapshot.tag(t, "a/b") }
      // dot-PREFIXED names would be invisible to tags() (temp-file
      // filter) and thus unpinned against vacuum — refuse at write
      intercept[IllegalArgumentException] { Snapshot.tag(t, ".golden") }
      intercept[IllegalArgumentException] { Snapshot.tag(t, ".") }
      intercept[IllegalArgumentException] { Snapshot.tag(t, "..") }
      // interior dots stay legal (release-style tags)
      assert(Snapshot.tag(t, "v1.0") == 3L)
      dropTag(t, "v1.0")
      intercept[IllegalArgumentException] {
        Snapshot.readTag(spark, t, "absent")
      }
    }
  }

  test("concurrent commits: exactly one writer wins a version") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      // simulate a racer that already published v2
      Snapshot.merge(batch(("B", "2024-01-01", 1.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      // a writer that computed against v1 and now targets v2 must lose
      val m1 = Snapshot.readManifest(t, 1)
      intercept[Snapshot.ConcurrentCommitException] {
        // direct low-level publish attempt at the taken version
        val m = Snapshot.readManifest(t, 2)
        val method = Snapshot.getClass.getDeclaredMethods
          .find(_.getName == "writeManifest").get
        method.setAccessible(true)
        try method.invoke(Snapshot, t, Snapshot.Manifest(2L, m1.partitionCol,
          m1.partitionType, m1.dataSchemaJson, m1.dirs))
        catch {
          case e: java.lang.reflect.InvocationTargetException => throw e.getCause
        }
      }
      // the winner's content is untouched
      assert(content(t) == Set(("A", "2024-01-01", 10.0), ("B", "2024-01-01", 1.0)))
    }
  }

  test("two raw writers racing one version: one wins, loser throws, chain stays linear") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("Z", "2024-01-01", 1.0, 0L)), t, Some("date"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // release both RAW merges (no retry loop) together: each reads
      // latest=1 before the other can publish (the Spark data write
      // sits between read and publish), so both target v2 and the
      // manifest hard-link must arbitrate
      val start = new java.util.concurrent.CountDownLatch(2)
      def writer(sym: String): Future[Either[Throwable, Unit]] = Future {
        start.countDown(); start.await()
        try Right(Snapshot.merge(batch((sym, "2024-01-02", 10.0, 1L)), t,
          Seq("symbol", "date"), "version", "date"): Unit)
        catch { case e: Throwable => Left(e) }
      }
      val results = Await.result(
        Future.sequence(Seq(writer("A"), writer("B"))), 120.seconds)
      val (losers, winners) = results.partition(_.isLeft)
      assert(winners.size == 1 && losers.size == 1,
        s"exactly one writer must take v2, got $results")
      assert(losers.head.left.exists(
        _.isInstanceOf[Snapshot.ConcurrentCommitException]),
        s"loser must see ConcurrentCommitException, got ${losers.head}")
      // linear manifest chain: exactly versions 1,2 — no gap, no fork
      assert(Snapshot.versions(t) == Seq(1L, 2L))
      // and v2 holds the winner's row only (loser's data never published)
      val day2 = Snapshot.read(spark, t).filter($"date" === "2024-01-02")
        .select($"symbol").as[String].collect().toSeq
      assert(day2.size == 1, s"one winner row, got $day2")
    }
  }

  test("mergeRetrying: concurrent writers all land; losers re-merge on the winner") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("Z", "2024-01-01", 1.0, 0L)), t, Some("date"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = Seq("A", "B", "C", "D").map { sym =>
        Future {
          Snapshot.mergeRetrying(batch((sym, "2024-01-02", 10.0, 1L)), t,
            Seq("symbol", "date"), "version", "date")
        }
      }
      Await.result(Future.sequence(writers), 120.seconds)
      val syms = Snapshot.read(spark, t)
        .select($"symbol").as[String].collect().toSet
      assert(syms == Set("Z", "A", "B", "C", "D"),
        "every concurrent writer's batch must be in the final snapshot")
      assert(Snapshot.latestVersion(t).contains(5L), "four commits after v1")
    }
  }

  test("schema evolution: new incoming columns append; old dirs null-fill at read") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L)),
        t, Some("date"))
      // merge a batch carrying an extra column, touching only day 2
      val withAdj = batch(("A", "2024-01-02", 99.0, 1L))
        .withColumn("adj_close", $"close" * 0.5)
      Snapshot.merge(withAdj, t, Seq("symbol", "date"), "version", "date")
      val got = Snapshot.read(spark, t)
        .select($"date".cast("string"), $"close", $"adj_close")
        .as[(String, Double, Option[Double])].collect().toSet
      assert(got == Set(
        ("2024-01-01", 10.0, None),          // untouched dir, null-filled
        ("2024-01-02", 99.0, Some(49.5))))

      // a later batch WITHOUT the new column null-fills its own rows
      Snapshot.merge(batch(("B", "2024-01-03", 7.0, 2L)), t,
        Seq("symbol", "date"), "version", "date")
      val after = Snapshot.read(spark, t)
        .select($"symbol", $"adj_close").as[(String, Option[Double])]
        .collect().toSet
      assert(after == Set(("A", None), ("A", Some(49.5)), ("B", None)))
    }
  }

  test("compaction publishes a small-file-free snapshot atomically") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // several merges fragment day 1 across commit dirs
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      Snapshot.merge(batch(("B", "2024-01-01", 20.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      Snapshot.merge(batch(("C", "2024-01-01", 30.0, 2L)), t,
        Seq("symbol", "date"), "version", "date")
      val before = content(t)

      val v = Snapshot.compact(spark, t)
      assert(v == 4)
      assert(content(t) == before, "compaction must not change content")
      // one directory, one data file
      val m = Snapshot.readManifest(t, v)
      assert(m.dirs.size == 1)
      val files = new java.io.File(m.dirs.head).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"expected 1 file, got ${files.length}")
      // pre-compaction version still time-travels until vacuum
      assert(Snapshot.read(spark, t, Some(3L)).count() == 3)
    }
  }

  test("compactInto collapses accumulated partition dirs into one") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // a per-batch append stream's shape: each merge lands a NEW
      // partition value, so dirs (and files) grow one per batch
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      Snapshot.merge(batch(("B", "2024-01-02", 20.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      Snapshot.merge(batch(("C", "2024-01-03", 30.0, 2L)), t,
        Seq("symbol", "date"), "version", "date")
      assert(Snapshot.readManifest(t, 3L).dirs.size == 3)
      val before = Snapshot.read(spark, t)
        .select($"symbol", $"close", $"version")
        .collect().map(_.toSeq).toSet

      val v = Snapshot.compactInto(spark, t,
        org.apache.spark.sql.functions.lit("2024-01-03"))
      val m = Snapshot.readManifest(t, v)
      assert(m.dirs.size == 1)
      val files = new java.io.File(m.dirs.head).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"expected 1 file, got ${files.length}")
      // non-partition content survives; the partition value is re-tagged
      val after = Snapshot.read(spark, t)
        .select($"symbol", $"close", $"version")
        .collect().map(_.toSeq).toSet
      assert(after == before)
      assert(Snapshot.read(spark, t).select($"date").distinct()
        .collect().map(_.get(0).toString).toSeq == Seq("2024-01-03"))
    }
  }

  test("partition values needing path-escaping (and null) roundtrip and merge correctly") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // ':' escapes to %3A in directory names; null becomes
      // __HIVE_DEFAULT_PARTITION__ — both must compare as VALUES, not
      // as raw directory suffixes (ADVICE round 2, medium)
      val rows = Seq(("A", "10:00", 1.0, 0L), ("B", "11:00", 2.0, 0L),
        ("C", null.asInstanceOf[String], 3.0, 0L))
        .toDF("symbol", "slot", "close", "version")
      Snapshot.commit(rows, t, Some("slot"))
      val back = Snapshot.read(spark, t)
        .select($"symbol", $"slot", $"close")
        .as[(String, Option[String], Double)].collect().toSet
      assert(back == Set(("A", Some("10:00"), 1.0), ("B", Some("11:00"), 2.0),
        ("C", None, 3.0)))

      // merge touching ONLY the escaped partition must replace it (not
      // duplicate it by treating the escaped dir as untouched)
      Snapshot.merge(
        Seq(("A", "10:00", 9.0, 1L)).toDF("symbol", "slot", "close", "version"),
        t, Seq("symbol", "slot"), "version", "slot")
      val after = Snapshot.read(spark, t)
        .select($"symbol", $"slot", $"close")
        .as[(String, Option[String], Double)].collect().toSet
      assert(after == Set(("A", Some("10:00"), 9.0), ("B", Some("11:00"), 2.0),
        ("C", None, 3.0)))

      // pruning's keep() receives the unescaped value
      val pruned = Snapshot.readPruned(spark, t, v => v != null && v == "10:00")
      assert(pruned.select($"close").as[Double].collect().toSeq == Seq(9.0))
    }
  }

  test("vacuum reclaims orphan commit dirs from crashed/losing writers") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      // simulate a crashed writer: data written, manifest never published
      val orphan = new java.io.File(t, "data/deadbeef-orphan")
      orphan.mkdirs()
      new java.io.File(orphan, "part-00000.parquet").createNewFile()

      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = -1000L) // everything "old"
      assert(!orphan.exists(), "unreferenced commit dir must be reclaimed")
      assert(content(t) == Set(("A", "2024-01-01", 10.0)), "live data untouched")

      // a YOUNG orphan (possible in-flight commit) survives the sweep
      val young = new java.io.File(t, "data/young-inflight")
      young.mkdirs()
      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = 3600000L)
      assert(young.exists(), "orphans younger than the age threshold survive")

      // a LONG-RUNNING in-flight commit: the top dir (and a partition
      // subdir) were created hours ago, but the writer is still landing
      // files — only the newest RECURSIVE mtime proves liveness. Aging
      // by the top-dir mtime (the pre-fix behavior) would sweep it
      // mid-write and corrupt the commit.
      val slow = new java.io.File(t, "data/slow-inflight/date=2024-01-01")
      slow.mkdirs()
      val fresh = new java.io.File(slow, "part-00001.parquet")
      fresh.createNewFile() // mtime = now
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L)
      java.nio.file.Files.setLastModifiedTime(slow.getParentFile.toPath, old)
      java.nio.file.Files.setLastModifiedTime(slow.toPath, old)
      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = 3600000L)
      assert(fresh.exists(),
        "an in-flight commit with any fresh file must survive the sweep")
    }
  }

  test("footer stats: countStar answers count(*) from the manifest alone") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-01", 20.0, 0L),
          ("A", "2024-01-02", 11.0, 0L)), t, Some("date"))
      assert(Snapshot.countStar(t).contains(3L))
      // merge: untouched dirs carry stats by reference, count stays exact
      Snapshot.merge(batch(("C", "2024-01-02", 30.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      assert(Snapshot.countStar(t).contains(4L))

      // a manifest line without stats (pre-stats format) degrades to None
      val m = Snapshot.readManifest(t, 2)
      val method = Snapshot.getClass.getDeclaredMethods
        .find(_.getName == "writeManifest").get
      method.setAccessible(true)
      method.invoke(Snapshot, t, Snapshot.Manifest(3L, m.partitionCol,
        m.partitionType, m.dataSchemaJson, m.dirs))
      assert(Snapshot.countStar(t).isEmpty, "unknown stats must not claim a count")
      assert(Snapshot.read(spark, t).count() == 4L, "scan path unaffected")
    }
  }

  test("footer stats: readStatsPruned skips dirs by non-partition column ranges") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // version ranges per dir: [10], [50], [90] — prune on a DATA column
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 10L), ("A", "2024-01-02", 50.0, 50L),
          ("A", "2024-01-03", 90.0, 90L)), t, Some("date"))
      val pruned = Snapshot.readStatsPruned(spark, t, "version",
        lo = Some("40"), hi = Some("60"))
      assert(pruned.select($"version").as[Long].collect().toSeq == Seq(50L))
      val files = pruned.select(input_file_name()).as[String].collect().toSet
      assert(files.size == 1, "only the one in-range directory is scanned")
      // open-ended bound
      val ge = Snapshot.readStatsPruned(spark, t, "version", Some("50"), None)
      assert(ge.select($"version").as[Long].collect().toSet == Set(50L, 90L))
      // symbol is a string column: stats prune works there too
      val none = Snapshot.readStatsPruned(spark, t, "symbol", Some("B"), None)
      assert(none.count() == 0)
    }
  }

  test("footer stats: string stats compare in UTF-8 byte order (surrogates vs U+E000)") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // One directory whose string column spans the collation trap:
      // "" (private-use, UTF-8 ee 80 80) and "😀" (U+1F600,
      // surrogate pair in UTF-16, UTF-8 f0 9f 98 80). Parquet footers
      // record min="", max="😀" in UTF-8 byte order; Java's
      // UTF-16 compareTo says "😀" < "", so a point probe for
      // "" would conclude max < lo and PRUNE the directory —
      // losing a matching row.
      val df = Seq(("", "2024-01-01", 1.0, 0L),
          ("😀", "2024-01-01", 2.0, 0L))
        .toDF("symbol", "date", "close", "version")
        .withColumn("date", to_date($"date"))
      Snapshot.commit(df, t, Some("date"))
      val hit = Snapshot.readStatsPruned(spark, t, "symbol",
        lo = Some(""), hi = Some(""))
      assert(hit.filter($"symbol" === "").count() == 1L,
        "UTF-16 collation would have pruned the directory holding this row")
      // and the order agrees with Spark's own: probes above the UTF-8
      // max really do prune ("😁" > "😀" in both orders)
      val miss = Snapshot.readStatsPruned(spark, t, "symbol",
        lo = Some("😁"), hi = None)
      assert(miss.count() == 0L)
    }
  }

  test("footer stats: NaN-poisoned columns drop their stats, never mis-prune") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val df = Seq(("A", "2024-01-01", Double.NaN, 0L),
        ("B", "2024-01-01", 5.0, 0L), ("C", "2024-01-02", 7.0, 0L))
        .toDF("symbol", "date", "close", "version")
        .withColumn("date", to_date($"date"))
      Snapshot.commit(df, t, Some("date"))
      // row counts stay exact; the NaN column is unknown, so pruning on
      // it must keep every directory
      assert(Snapshot.countStar(t).contains(3L))
      val all = Snapshot.readStatsPruned(spark, t, "close",
        Some("100"), Some("200"))
      assert(all.count() == 3L,
        "a column without orderable stats must never prune")
      // the clean string column still prunes normally
      val pruned = Snapshot.readStatsPruned(spark, t, "symbol",
        Some("C"), None)
      assert(pruned.select($"symbol").as[String].collect().toSeq == Seq("C"))
    }
  }

  test("per-file stats + clustered commit: a point probe scans one file") {
    withTempDir { dir =>
      // 200 rows arriving in content-scrambled order, 4 files each.
      // Unclustered: every file spans nearly the whole version range, so
      // per-file stats can prune nothing. Clustered commit: files hold
      // disjoint contiguous ranges, a point probe touches exactly one.
      val rows = spark.range(0, 200)
        .select(concat(lit("S"), $"id").as("symbol"),
          to_date(lit("2024-01-01")).as("date"),
          ($"id" * 1.5).as("close"), $"id".as("version"))
        .orderBy(md5($"id".cast("string"))) // deterministic scramble
      def prunedFiles(t: String): Set[String] =
        Snapshot.readStatsPruned(spark, t, "version", Some("10"), Some("10"))
          .select(input_file_name()).as[String].collect().toSet

      val flat = dir.getAbsolutePath + "/flat"
      Snapshot.commit(rows.repartition(4), flat, None)
      assert(prunedFiles(flat).size == 4,
        "random placement: every file's range covers version 10")

      val clustered = dir.getAbsolutePath + "/clustered"
      Snapshot.commit(rows, clustered, None,
        clusterBy = Some("version"), clusterFiles = 4)
      val m = Snapshot.readManifest(clustered, 1)
      assert(m.fileStats.size == 4, s"expected 4 files, got ${m.fileStats.keys}")
      assert(prunedFiles(clustered).size == 1,
        "clustered placement: the probe scans a single file")
      // the probe still returns exactly the matching row
      val got = Snapshot.readStatsPruned(spark, clustered, "version",
          Some("10"), Some("10"))
        .filter($"version" === 10L).select($"symbol").as[String].collect().toSeq
      assert(got == Seq("S10"))
      // and a full read of the clustered snapshot is unharmed
      assert(Snapshot.read(spark, clustered).count() == 200L)
    }
  }

  test("compactInto(clusterBy) keeps point lookups pruned after collapse") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // three per-batch partitions with interleaved ids — the stream
      // shape; collapse them into 3 range-clustered files
      for (b <- 0 until 3)
        Snapshot.merge(spark.range(0, 90)
            .filter($"id" % 3 === b)
            .select($"id".as("doc_id"), ($"id" * 2).as("payload"),
              lit(b).as("ingest_batch")),
          t, Seq("doc_id"), "doc_id", "ingest_batch")
      val v = Snapshot.compactInto(spark, t,
        org.apache.spark.sql.functions.lit(2L), targetFiles = 3,
        clusterBy = Some("doc_id"))
      assert(Snapshot.readManifest(t, v).dirs.size == 1)
      // without clustering every file would span ~[0,89] and a point
      // probe would open all 3; range-clustered it opens exactly 1
      val hit = Snapshot.readForKeys(spark, t, "doc_id", Seq("5"))
      assert(hit.select(input_file_name()).distinct().count() == 1)
      assert(Snapshot.read(spark, t).count() == 90)
    }
  }

  test("readForKeys: a scattered key set scans only its own files") {
    withTempDir { dir =>
      val rows = spark.range(0, 200)
        .select(concat(lit("S"), $"id").as("symbol"),
          to_date(lit("2024-01-01")).as("date"),
          ($"id" * 1.5).as("close"), $"id".as("version"))
        .orderBy(md5($"id".cast("string")))
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(rows, t, None, clusterBy = Some("version"),
        clusterFiles = 4)
      // keys in two different 50-row files: scan exactly those two
      val hit = Snapshot.readForKeys(spark, t, "version", Seq("7", "160"))
      assert(hit.select(input_file_name()).distinct().count() == 2)
      assert(hit.filter($"version".isin(7L, 160L))
        .select($"symbol").as[String].collect().toSet == Set("S7", "S160"))
      // keys all inside one file: one file scanned
      val one = Snapshot.readForKeys(spark, t, "version",
        Seq("10", "11", "12"))
      assert(one.select(input_file_name()).distinct().count() == 1)
      // keys beyond every range: empty scan, schema intact
      val none = Snapshot.readForKeys(spark, t, "version", Seq("9999"))
      assert(none.count() == 0 && none.columns.contains("version"))
    }
  }

  test("zorder commit: per-file stats prune on EITHER dimension; lexicographic only on the leading one") {
    withTempDir { dir =>
      // a 32×32 grid scrambled into random order, committed into 16 files
      val grid = spark.range(0, 1024)
        .select(($"id" % 32).as("x"), ($"id" / 32).cast("long").as("y"),
          $"id".as("payload"))
        .orderBy(md5($"id".cast("string")))
      def filesFor(t: String, c: String): Int =
        Snapshot.readStatsPruned(spark, t, c, Some("7"), Some("7"))
          .select(input_file_name()).distinct().count().toInt

      val lex = dir.getAbsolutePath + "/lex"
      Snapshot.commit(grid, lex, None, clusterBy = Some("x"), clusterFiles = 16)
      assert(filesFor(lex, "x") <= 2, "leading column prunes well")
      assert(filesFor(lex, "y") >= 12,
        "trailing column cannot prune a lexicographic layout")

      val zed = dir.getAbsolutePath + "/zed"
      Snapshot.commit(grid, zed, None, clusterFiles = 16,
        clusterByKey = Some(Snapshot.zorderKey(Seq($"x", $"y"), 5)))
      val m = Snapshot.readManifest(zed, 1)
      assert(m.fileStats.size == 16, s"expected 16 files, got ${m.fileStats.size}")
      // 16 files over a 32×32 z-curve = 8×8 blocks: any x=k or y=k line
      // crosses exactly 4 blocks
      assert(filesFor(zed, "x") <= 4, "z-order prunes the x probe")
      assert(filesFor(zed, "y") <= 4, "z-order prunes the y probe")
      // the clustering key never lands in the data
      assert(Snapshot.read(spark, zed).columns.toSeq ==
        Seq("x", "y", "payload"))
      assert(Snapshot.read(spark, zed).count() == 1024L)
      // probes still return exactly the matching rows
      val got = Snapshot.readStatsPruned(spark, zed, "y", Some("7"), Some("7"))
        .filter($"y" === 7L).count()
      assert(got == 32L)
    }
  }

  test("zorderKey: bit interleave is exact and clamps out-of-range values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (-9L, 99L))
      .toDF("a", "b")
      .select(Snapshot.zorderKey(Seq($"a", $"b"), 3).as("z"))
    // k=2: bit i of `a` -> position 2i, of `b` -> 2i+1
    // (3,5)=a:011,b:101 -> z bits (b2 a2 b1 a1 b0 a0)=100111=39
    // (-9,99) clamps to (0,7) -> b:111 -> 101010=42
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 2L, 39L, 42L))
  }

  test("deleteWhere rewrites only touched partitions; null predicate keeps rows; time travel intact") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/table"
      val rows = Seq(
        ("A", "2024-01-01", 10.0, 1L), ("A", "2024-01-02", -5.0, 2L),
        ("B", "2024-01-01", 20.0, 3L), ("C", "2024-01-01", 30.0, 4L))
        .toDF("symbol", "date", "close", "version")
        .withColumn("date", to_date($"date"))
      Snapshot.commit(rows, t, Some("symbol"))
      val m1 = Snapshot.readManifest(t, 1)

      // delete negative closes -> touches only symbol=A
      val v2 = Snapshot.deleteWhere(spark, t, $"close" < 0)
      assert(v2 == 2L)
      assert(content(t) == Set(("A", "2024-01-01", 10.0),
        ("B", "2024-01-01", 20.0), ("C", "2024-01-01", 30.0)))
      val m2 = Snapshot.readManifest(t, 2)
      val untouched1 = m1.dirs.filterNot(_.contains("symbol=A")).toSet
      assert(untouched1.subsetOf(m2.dirs.toSet),
        "B/C dirs must carry by reference")
      // time travel still sees the deleted row
      assert(Snapshot.read(spark, t, Some(1L)).count() == 4L)

      // a NULL predicate row is kept (SQL DELETE semantics)
      val v3 = Snapshot.deleteWhere(spark, t,
        when($"symbol" === "B", lit(null).cast("boolean"))
          .otherwise($"close" > 25))
      assert(v3 == 3L)
      assert(content(t) == Set(("A", "2024-01-01", 10.0),
        ("B", "2024-01-01", 20.0)))

      // nothing matches -> no empty commit, version unchanged
      assert(Snapshot.deleteWhere(spark, t, $"close" > 999) == 3L)
      assert(Snapshot.latestVersion(t).get == 3L)

      // unpartitioned table: full rewrite, same semantics
      val u = dir.getAbsolutePath + "/flat"
      Snapshot.commit(rows, u, None)
      Snapshot.deleteWhere(spark, u, $"symbol" === "A")
      assert(Snapshot.read(spark, u).count() == 2L)
    }
  }

  test("diff reports added/removed/changed keys between versions, null-safe") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-01", 20.0, 0L),
          ("C", "2024-01-02", 30.0, 0L)), t, Some("date"))
      // v2: B's close changes, C unchanged, D appears; then drop A via
      // a fresh commit (merge can't remove) — use commit for v2 state
      Snapshot.commit(
        batch(("B", "2024-01-01", 21.0, 1L), ("C", "2024-01-02", 30.0, 0L),
          ("D", "2024-01-03", 40.0, 0L)), t, Some("date"))
      val d = Snapshot.diff(spark, t, 1L, 2L, Seq("symbol", "date"))
        .select($"symbol", $"change_type").as[(String, String)]
        .collect().toMap
      assert(d == Map("A" -> "removed", "B" -> "changed", "D" -> "added"),
        s"got $d")
      // version column changed for B too; C identical in both -> absent
      assert(!d.contains("C"))
    }
  }

  test("cdf emits insert/delete rows with values and preimage+postimage " +
      "pairs for changed keys") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-01", 20.0, 0L),
          ("C", "2024-01-02", 30.0, 0L)), t, Some("date"))
      Snapshot.commit(
        batch(("B", "2024-01-01", 21.0, 1L), ("C", "2024-01-02", 30.0, 0L),
          ("D", "2024-01-03", 40.0, 0L)), t, Some("date"))
      val rows = Snapshot.cdf(spark, t, 1L, 2L, Seq("symbol", "date"))
        .select($"symbol", $"_change_type", $"close")
        .as[(String, String, Double)].collect().toSet
      assert(rows == Set(
        ("D", "insert", 40.0),
        ("A", "delete", 10.0),
        ("B", "update_preimage", 20.0),
        ("B", "update_postimage", 21.0)), s"got $rows")
      // retraction algebra: v1 aggregate + signed deltas == v2 aggregate
      val v1Sum = Snapshot.read(spark, t, Some(1L))
        .agg(sum($"close")).as[Double].head()
      val delta = Snapshot.cdf(spark, t, 1L, 2L, Seq("symbol", "date"))
        .select(when($"_change_type".isin("insert", "update_postimage"),
          $"close").otherwise(-$"close").as("d"))
        .agg(sum($"d")).as[Double].head()
      val v2Sum = Snapshot.read(spark, t, Some(2L))
        .agg(sum($"close")).as[Double].head()
      assert(math.abs(v1Sum + delta - v2Sum) < 1e-9)
    }
  }

  test("cdf across a schema evolution: rows predating the new column " +
      "null-fill; change detection ignores the one-sided column") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.merge(batch(("A", "2024-01-01", 10.0, 0L),
        ("B", "2024-01-02", 20.0, 0L)), t,
        Seq("symbol", "date"), "version", "date")
      // evolved batch: B overwritten with a NEW column present
      Snapshot.merge(
        batch(("B", "2024-01-02", 22.0, 1L)).withColumn("src", lit("x")),
        t, Seq("symbol", "date"), "version", "date")
      val rows = Snapshot.cdf(spark, t, 1L, 2L, Seq("symbol", "date"))
        .select($"symbol", $"_change_type", $"close", $"src")
        .as[(String, String, Double, Option[String])].collect().toSet
      // A unchanged (the v2-only src column cannot flag it); B changed
      assert(rows == Set(
        ("B", "update_preimage", 20.0, None),
        ("B", "update_postimage", 22.0, Some("x"))), s"got $rows")
    }
  }

  test("merge carries untouched dirs' per-file stats by reference") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L)),
        t, Some("date"))
      val before = Snapshot.readManifest(t, 1)
      assert(before.fileStats.nonEmpty)
      Snapshot.merge(batch(("A", "2024-01-02", 99.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      val after = Snapshot.readManifest(t, 2)
      val day1 = after.dirs.find(_.contains("2024-01-01")).get
      assert(after.filesUnder(day1) == before.filesUnder(day1),
        "untouched partition keeps its file entries verbatim")
      assert(after.dirs.forall(d => after.filesUnder(d).nonEmpty),
        "rewritten partition gets fresh file entries")
    }
  }

  test("manifest-side pruning reads only the matching partition dirs") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L),
          ("A", "2024-01-03", 12.0, 0L)), t, Some("date"))
      val pruned = Snapshot.readPruned(spark, t, _ >= "2024-01-02")
      assert(pruned.select($"close").as[Double].collect().toSet == Set(11.0, 12.0))
      // the scan's input files are only the two matching dirs
      val files = pruned.select(input_file_name()).as[String].collect().toSet
      assert(files.forall(f => !f.contains("2024-01-01")))
    }
  }

  test("bucketed snapshots: the equi-join on the bucket key plans " +
      "with ZERO shuffle exchange, rows match the plain join, and " +
      "versioning still works") {
    withTempDir { dir =>
      val n = 4000
      val facts = spark.range(n)
        .select(($"id" % 500).as("k"), ($"id" * 2).as("v"))
      val dims = spark.range(500)
        .select($"id".as("k"), concat(lit("d"), $"id").as("name"))
      val ft = dir.getAbsolutePath + "/fact"
      val dt = dir.getAbsolutePath + "/dim"
      Snapshot.commitBucketed(facts, ft, "k", 8)
      Snapshot.commitBucketed(dims, dt, "k", 8)
      val j = Snapshot.readBucketed(spark, ft, "graft_spec_fact")
        .join(Snapshot.readBucketed(spark, dt, "graft_spec_dim"),
          Seq("k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed snapshot join must not shuffle either side:\n$plan")
      assert(j.count() == n)
      assert(j.agg(sum($"v")).as[Long].head() ==
        facts.agg(sum($"v")).as[Long].head())
      // a second commit is a new version, and a read sees it
      Snapshot.commitBucketed(facts.filter($"k" < 100), ft, "k", 8)
      assert(Snapshot.readBucketed(spark, ft, "graft_spec_fact2")
        .count() < n)
    }
  }

  test("write-audit-publish: staged snapshots are invisible to main " +
      "readers, survive vacuum, publish atomically, discard orphans") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t)
      // stage a candidate with a bad row; main readers see nothing
      Snapshot.commitStaged(
        batch(("B", "2024-01-02", 20.0, 0L), ("X", "2024-01-03", -5.0, 0L)),
        t, "wap1")
      assert(Snapshot.latestVersion(t).contains(1L))
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
      assert(Snapshot.stagedNames(t) == Seq("wap1"))
      // the audit face reads the staged rows
      val staged = Snapshot.readStaged(spark, t, "wap1")
        .select($"symbol").as[String].collect().toSet
      assert(staged == Set("B", "X"))
      // vacuum with zero orphan age must NOT touch the staged dirs
      Snapshot.vacuum(t, keepVersions = 5, orphanAgeMs = 0L)
      assert(Snapshot.readStaged(spark, t, "wap1")
        .count() == 2)
      // audit fails -> discard; dirs become orphans and age out
      Snapshot.discardStaged(t, "wap1")
      assert(Snapshot.stagedNames(t).isEmpty)
      Snapshot.vacuum(t, keepVersions = 5, orphanAgeMs = 0L)
      // re-stage the clean batch and publish: next version, readable
      Snapshot.commitStaged(batch(("B", "2024-01-02", 20.0, 0L)), t, "wap2")
      val v = Snapshot.publish(t, "wap2")
      assert(v == 2L)
      assert(Snapshot.stagedNames(t).isEmpty)
      assert(content(t) == Set(("B", "2024-01-02", 20.0)))
      // time travel still has the pre-publish state
      assert(Snapshot.read(spark, t, Some(1L)).count() == 1)
      // publishing a missing stage fails loudly
      intercept[IllegalArgumentException](Snapshot.publish(t, "nope"))
    }
  }

  test("history: one row per retained version with stat-derived " +
      "rows, tag pins, and the latest flag; vacuum shrinks it") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t)
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L),
        ("B", "2024-01-02", 20.0, 0L)), t)
      Snapshot.tag(t, "keep", Some(1L))
      val h = Snapshot.history(spark, t)
        .as[(Long, Int, Option[Long], String, Boolean)]
        .collect().sortBy(_._1)
      assert(h.toSeq == Seq((1L, 1, Some(1L), "keep", false),
        (2L, 1, Some(2L), "", true)))
      // vacuum keeps only the latest + the pinned v1
      Snapshot.commit(batch(("C", "2024-01-03", 30.0, 0L)), t)
      dropTag(t, "keep")
      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = 0L)
      val h2 = Snapshot.history(spark, t)
        .as[(Long, Int, Option[Long], String, Boolean)]
        .collect().sortBy(_._1)
      assert(h2.toSeq == Seq((3L, 1, Some(1L), "", true)))
    }
  }

  test("schemaHistory reports per-version added/removed columns; " +
      "vacuumed versions drop out and the diff re-bases") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(Seq((1L, 10.0)).toDF("id", "a"), t)
      Snapshot.commit(Seq((1L, 10.0, "x")).toDF("id", "a", "b"), t)
      Snapshot.commit(Seq((1L, "x")).toDF("id", "b"), t)
      val h = Snapshot.schemaHistory(spark, t)
        .as[(Long, Int, String, String)].collect().sortBy(_._1)
      assert(h.toSeq == Seq((1L, 2, "a,id", ""), (2L, 3, "b", ""),
        (3L, 2, "", "a")))
      // after vacuum the walk re-bases on the oldest RETAINED version
      Snapshot.vacuum(t, keepVersions = 2, orphanAgeMs = 0L)
      val h2 = Snapshot.schemaHistory(spark, t)
        .as[(Long, Int, String, String)].collect().sortBy(_._1)
      assert(h2.toSeq == Seq((2L, 3, "a,b,id", ""), (3L, 2, "", "a")))
    }
  }

  test("cloneTable: zero-copy v1 shares the source's dirs; the clone " +
      "diverges independently; the source never moves; an existing " +
      "destination is refused") {
    withTempDir { dir =>
      val src = dir.getAbsolutePath + "/src"
      val dst = dir.getAbsolutePath + "/clone"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-02", 20.0, 0L)),
        src, Some("date"))
      assert(Snapshot.cloneTable(src, dst) == 1L)
      assert(Snapshot.readManifest(dst, 1L).dirs ==
        Snapshot.readManifest(src, 1L).dirs, "v1 must be zero-copy")
      assert(Snapshot.read(spark, dst).count() == 2)
      // diverge the clone; the source is untouched
      Snapshot.merge(batch(("A", "2024-01-01", 99.0, 1L)), dst,
        Seq("symbol", "date"), "version", "date")
      assert(content(src) ==
        Set(("A", "2024-01-01", 10.0), ("B", "2024-01-02", 20.0)))
      assert(content(dst) ==
        Set(("A", "2024-01-01", 99.0), ("B", "2024-01-02", 20.0)))
      // a later source commit is invisible to the clone
      Snapshot.commit(batch(("C", "2024-01-03", 30.0, 0L)), src)
      assert(!content(dst).exists(_._1 == "C"))
      intercept[IllegalArgumentException] {
        Snapshot.cloneTable(src, dst)
      }
    }
  }

  test("rollback restores a prior version's content as a NEW latest " +
      "by manifest reference; the bad version stays inspectable and " +
      "expiring it never tears files from the restore") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t)
      Snapshot.commit(batch(("A", "2024-01-01", 99.0, 1L)), t) // bad
      val v = Snapshot.rollback(t, 1L)
      assert(v == 3L)
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
      // zero copy: v3 references v1's directories
      assert(Snapshot.readManifest(t, 3L).dirs ==
        Snapshot.readManifest(t, 1L).dirs)
      // the bad version still time-travels
      assert(Snapshot.read(spark, t, Some(2L))
        .select($"close").as[Double].head() == 99.0)
      // retiring BOTH old versions leaves the restore byte-complete
      val now = 1700000000000L
      Snapshot.stampVersion(t, 1L, now - 10 * 86400000L)
      Snapshot.stampVersion(t, 2L, now - 10 * 86400000L)
      Snapshot.stampVersion(t, 3L, now)
      assert(Snapshot.expireByAge(t, 86400000L, now) == Seq(1L, 2L))
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
    }
  }

  test("expireByAge drops only unpinned versions past the fence; " +
      "tag pins and the latest survive any age; shared merge dirs " +
      "stay readable from the retained version") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      // v1: two partitions; v2: merge touching ONE day (shares the
      // untouched day's dir with v1); v3: fresh commit day
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L)),
        t, Some("date"))
      Snapshot.merge(batch(("A", "2024-01-02", 99.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      Snapshot.merge(batch(("B", "2024-01-03", 30.0, 0L)), t,
        Seq("symbol", "date"), "version", "date")
      val now = 1700000000000L
      val day = 86400000L
      Snapshot.stampVersion(t, 1L, now - 10 * day)
      Snapshot.stampVersion(t, 2L, now - 9 * day)
      Snapshot.stampVersion(t, 3L, now - 1 * day)
      // nothing crosses a 30-day fence
      assert(Snapshot.expireByAge(t, 30 * day, now).isEmpty)
      // 7-day fence: v1 AND v2 are too old, but a tag pins v2
      Snapshot.tag(t, "release", Some(2L))
      assert(Snapshot.expireByAge(t, 7 * day, now) == Seq(1L))
      // v1's untouched-day dir is SHARED with v2 and must survive:
      // v2 stays byte-complete through time travel
      assert(Snapshot.read(spark, t, Some(2L))
        .select("symbol", "close").as[(String, Double)].collect().toSet ==
        Set(("A", 10.0), ("A", 99.0)))
      assert(Snapshot.versions(t) == Seq(2L, 3L))
      // tag dropped -> the next run expires v2; latest never expires
      dropTag(t, "release")
      assert(Snapshot.expireByAge(t, 7 * day, now) == Seq(2L))
      assert(Snapshot.expireByAge(t, 0L, now).isEmpty,
        "the latest version survives even a zero-age policy")
      assert(Snapshot.read(spark, t).count() == 3)
    }
  }

  test("write-audit-publish: publishIdempotent replays to the SAME " +
      "version; the published manifest records its wap id") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commitStaged(batch(("A", "2024-01-01", 10.0, 0L)), t, "w1")
      val v1 = Snapshot.publishIdempotent(t, "w1")
      assert(v1 == 1L)
      assert(Snapshot.publishedWap(t, "w1").contains(1L))
      assert(Snapshot.publishedWap(t, "w2").isEmpty)
      // replay: the batch re-stages under the same wap id (the crash
      // window landed after publish) — no duplicate version, and the
      // re-staged leftover is dropped
      Snapshot.commitStaged(batch(("A", "2024-01-01", 10.0, 0L)), t, "w1")
      assert(Snapshot.publishIdempotent(t, "w1") == 1L)
      assert(Snapshot.latestVersion(t).contains(1L))
      assert(Snapshot.stagedNames(t).isEmpty)
      // a NEW wap id still publishes the next version; a plain commit
      // (no wap id) never collides with the lookup
      Snapshot.commitStaged(batch(("B", "2024-01-02", 20.0, 0L)), t, "w2")
      assert(Snapshot.publishIdempotent(t, "w2") == 2L)
      Snapshot.commit(batch(("C", "2024-01-03", 30.0, 0L)), t)
      assert(Snapshot.publishedWap(t, "w2").contains(2L))
      assert(content(t) == Set(("C", "2024-01-03", 30.0)))
    }
  }

  test("write-audit-publish: re-staging a name replaces it and " +
      "partitioned staging restores the partition column") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 10.0, 0L)), t, Some("date"))
      Snapshot.commitStaged(batch(("B", "2024-01-02", 20.0, 0L)), t,
        "wap", Some("date"))
      Snapshot.commitStaged(
        batch(("C", "2024-01-03", 30.0, 0L), ("D", "2024-01-04", 40.0, 0L)),
        t, "wap", Some("date"))
      val staged = Snapshot.readStaged(spark, t, "wap")
      assert(staged.schema("date").dataType.typeName == "date")
      assert(staged.select($"symbol").as[String].collect().toSet ==
        Set("C", "D"))
      Snapshot.publish(t, "wap")
      assert(content(t) == Set(("C", "2024-01-03", 30.0),
        ("D", "2024-01-04", 40.0)))
    }
  }

  test("deletion vectors: zero-rewrite delete, stacking, time travel, " +
      "compact materializes, rewrites guarded until then") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-01", 20.0, 0L),
          ("C", "2024-01-02", 30.0, 0L)), t, Some("date"))
      val m1 = Snapshot.readManifest(t, 1)
      val v2 = Snapshot.deleteVectored(spark, t, "symbol",
        $"close" === 20.0)
      assert(v2 == 2)
      val m2 = Snapshot.readManifest(t, 2)
      assert(m2.dirs == m1.dirs, "data dirs must carry unchanged")
      assert(m2.dvDirs.size == 1)
      assert(content(t) == Set(("A", "2024-01-01", 10.0),
        ("C", "2024-01-02", 30.0)))
      // the pre-delete version stays fully readable
      assert(Snapshot.read(spark, t, Some(1L)).count() == 3)
      // manifest counts are an overcount while DVs are outstanding
      assert(Snapshot.countStar(t).isEmpty)
      // a no-match predicate publishes nothing
      assert(Snapshot.deleteVectored(spark, t, "symbol",
        $"close" === 999.0) == 2)
      // deletes stack; a second sidecar appends
      val v3 = Snapshot.deleteVectored(spark, t, "symbol",
        $"symbol" === "C")
      assert(v3 == 3 && Snapshot.readManifest(t, 3).dvDirs.size == 2)
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
      // every reader face applies DVs: partition-, stats-, key-pruned
      assert(Snapshot.readPruned(spark, t, _ == "2024-01-02").count() == 0)
      assert(Snapshot.readStatsPruned(spark, t, "symbol",
        Some("C"), Some("C")).count() == 0)
      assert(Snapshot.readForKeys(spark, t, "symbol", Seq("B", "C"))
        .count() == 0)
      // a mismatched key column is refused while vectors are out
      intercept[IllegalArgumentException] {
        Snapshot.deleteVectored(spark, t, "date", $"symbol" === "A")
      }
      // partition rewrites refuse until materialized
      intercept[IllegalArgumentException] {
        Snapshot.merge(batch(("D", "2024-01-03", 1.0, 1L)), t,
          Seq("symbol", "date"), "version", "date")
      }
      intercept[IllegalArgumentException] {
        Snapshot.deleteWhere(spark, t, $"symbol" === "A")
      }
      // rollback to a DV'd version carries its vectors
      Snapshot.rollback(t, 2)
      assert(content(t) == Set(("A", "2024-01-01", 10.0),
        ("C", "2024-01-02", 30.0)))
      // compact materializes: DV-free manifest, content preserved,
      // counts known again, rewrites unblocked
      val v5 = Snapshot.compact(spark, t)
      assert(Snapshot.readManifest(t, v5).dvDirs.isEmpty)
      assert(content(t) == Set(("A", "2024-01-01", 10.0),
        ("C", "2024-01-02", 30.0)))
      assert(Snapshot.countStar(t).contains(2L))
      Snapshot.merge(batch(("D", "2024-01-03", 1.0, 1L)), t,
        Seq("symbol", "date"), "version", "date")
      assert(content(t).size == 3)
    }
  }

  test("upsert sidecars (merge-on-read): zero-rewrite upserts stack " +
      "with latest-wins, guards hold, compact materializes") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val base = Seq(("A", 10.0), ("B", 20.0), ("C", 30.0))
        .toDF("symbol", "close")
      Snapshot.commit(base, t)
      val m1 = Snapshot.readManifest(t, 1)
      // sidecar 1: update B, insert D
      val v2 = Snapshot.upsertVectored(
        Seq(("B", 21.0), ("D", 40.0)).toDF("symbol", "close"), t, "symbol")
      assert(v2 == 2)
      val m2 = Snapshot.readManifest(t, 2)
      assert(m2.dirs == m1.dirs && m2.uvDirs.size == 1 &&
        m2.uvKey == "symbol")
      def snap(): Set[(String, Double)] = Snapshot.read(spark, t)
        .as[(String, Double)].collect().toSet
      assert(snap() == Set(("A", 10.0), ("B", 21.0), ("C", 30.0),
        ("D", 40.0)))
      // sidecar 2 overrides sidecar 1 per key (latest wins)
      val v3 = Snapshot.upsertVectored(
        Seq(("B", 22.0)).toDF("symbol", "close"), t, "symbol")
      assert(v3 == 3 && Snapshot.readManifest(t, 3).uvDirs.size == 2)
      assert(snap() == Set(("A", 10.0), ("B", 22.0), ("C", 30.0),
        ("D", 40.0)))
      // time travel sees each overlay stage
      assert(Snapshot.read(spark, t, Some(1L)).count() == 3)
      assert(Snapshot.read(spark, t, Some(2L))
        .filter($"symbol" === "B").as[(String, Double)].head()._2 == 21.0)
      // stats/key-pruned readers overlay too
      assert(Snapshot.readForKeys(spark, t, "symbol", Seq("B"))
        .filter($"symbol" === "B").as[(String, Double)].head()._2 == 22.0)
      // counts unknown while outstanding
      assert(Snapshot.countStar(t).isEmpty)
      // guards: dup keys, key mismatch, DV-vs-UV exclusivity, rewrites
      intercept[IllegalArgumentException] {
        Snapshot.upsertVectored(
          Seq(("E", 1.0), ("E", 2.0)).toDF("symbol", "close"), t, "symbol")
      }
      intercept[IllegalArgumentException] {
        Snapshot.upsertVectored(
          Seq(("E", 1.0)).toDF("symbol", "close"), t, "close")
      }
      intercept[IllegalArgumentException] {
        Snapshot.deleteVectored(spark, t, "symbol", $"symbol" === "A")
      }
      intercept[IllegalArgumentException] {
        Snapshot.deleteWhere(spark, t, $"symbol" === "A")
      }
      // rollback carries the overlay
      Snapshot.rollback(t, 2)
      assert(snap() == Set(("A", 10.0), ("B", 21.0), ("C", 30.0),
        ("D", 40.0)))
      // compact materializes: fresh dirs, overlay gone, counts back
      val v5 = Snapshot.compact(spark, t)
      val m5 = Snapshot.readManifest(t, v5)
      assert(m5.uvDirs.isEmpty && m5.uvKey.isEmpty)
      assert(snap() == Set(("A", 10.0), ("B", 21.0), ("C", 30.0),
        ("D", 40.0)))
      assert(Snapshot.countStar(t).contains(4L))
      // and a DV is allowed again after materialization
      Snapshot.deleteVectored(spark, t, "symbol", $"symbol" === "D")
      assert(snap() == Set(("A", 10.0), ("B", 21.0), ("C", 30.0)))
      // a partitioned table refuses merge-on-read upserts
      val tp = dir.getAbsolutePath + "/tp"
      Snapshot.commit(batch(("A", "2024-01-01", 1.0, 0L)), tp, Some("date"))
      intercept[IllegalArgumentException] {
        Snapshot.upsertVectored(
          Seq(("A", 2.0)).toDF("symbol", "close"), tp, "symbol")
      }
    }
  }

  test("readAsOf resolves the inclusive stamp boundary; before-first " +
      "throws; fsck flags planted corruption and nothing else") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(batch(("A", "2024-01-01", 1.0, 0L)), t, Some("date"))
      Snapshot.stampVersion(t, 1L, 1000L)
      Snapshot.commit(batch(("A", "2024-01-01", 1.0, 0L),
        ("B", "2024-01-02", 2.0, 0L)), t, Some("date"))
      Snapshot.stampVersion(t, 2L, 2000L)
      assert(Snapshot.versionAsOf(t, 1000L) == 1L) // inclusive
      assert(Snapshot.versionAsOf(t, 1999L) == 1L)
      assert(Snapshot.versionAsOf(t, 2000L) == 2L)
      assert(Snapshot.readAsOf(spark, t, 1500L).count() == 1L)
      assert(Snapshot.readAsOf(spark, t, 99999L).count() == 2L)
      intercept[IllegalArgumentException] {
        Snapshot.versionAsOf(t, 999L)
      }
      // fsck: clean, then flag a vanished data dir
      assert(Snapshot.fsck(spark, t).count() == 0L)
      val goneDir = Snapshot.readManifest(t, 2L).dirs.head
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(c => rm(c))
        java.nio.file.Files.deleteIfExists(p): Unit
      }
      rm(java.nio.file.Paths.get(goneDir))
      val issues = Snapshot.fsck(spark, t)
        .as[(String, String)].collect().toSet
      assert(issues.exists(i => i._1 == goneDir && i._2 == "missing_dir"),
        s"expected missing_dir for $goneDir in $issues")
      // the manifest-listed files under that dir are flagged too
      assert(issues.forall(i =>
        i._2 == "missing_dir" || i._2 == "missing_file"))
    }
  }

  test("deletion vectors survive vacuum while referenced and retire " +
      "with their manifest") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(
        batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-02", 20.0, 0L)),
        t, Some("date"))
      Snapshot.deleteVectored(spark, t, "symbol", $"symbol" === "B")
      val dvDir = Snapshot.readManifest(t, 2).dvDirs.head
      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = 0L)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dvDir)),
        "a retained manifest's DV sidecar must survive vacuum")
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
      // materialize, then vacuum: the sidecar is unreferenced and goes
      Snapshot.compact(spark, t)
      Snapshot.vacuum(t, keepVersions = 1, orphanAgeMs = 0L)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dvDir)),
        "an unreferenced DV sidecar must be reclaimed")
      assert(content(t) == Set(("A", "2024-01-01", 10.0)))
    }
  }

  test("morCowAdvisor: manifest-stat costs per partition, dense " +
    "updates advise CoW, sparse advise MoR, untouched dirs cost 0") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val rows = (1 to 10).map(i => (i.toLong, "A")) ++
        (11 to 15).map(i => (i.toLong, "B")) ++
        (16 to 115).map(i => (i.toLong, "C"))
      Snapshot.commit(rows.toDF("id", "p"), t, partitionCol = Some("p"))
      val updates = ((1 to 8).map(i => (i.toLong, "A")) ++
        Seq((16L, "C"))).toDF("id", "p")
      val out = Snapshot.morCowAdvisor(spark, t, updates, 3L)
        .as[(String, Long, Long, Long, Long, Boolean, Long, Long,
          Boolean)].collect().map(r => r._1 -> r).toMap
      assert(out("A") == (("A", 10L, 8L, 10L, 32L, false, 110L, 36L,
        true)), "dense partition: rewrite beats sidecar churn")
      assert(out("B") == (("B", 5L, 0L, 0L, 0L, false, 110L, 36L,
        true)), "untouched partition costs nothing either way")
      assert(out("C") == (("C", 100L, 1L, 100L, 4L, true, 110L, 36L,
        true)), "sparse update on a big partition advises MoR")
    }
  }

  test("erasureAudit: head deletion leaves history retaining until " +
    "expiry reaps it") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(Seq((1L, "x"), (2L, "y"), (3L, "z"))
        .toDF("id", "v"), t)
      Snapshot.deleteWhere(spark, t, col("id") === 1L)
      val before = Snapshot.erasureAudit(spark, t, col("id") === 1L)
        .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
      assert(before.toSeq == Seq((1L, 1L, true, 1L), (2L, 0L, true, 1L)))
      Snapshot.expireByAge(t, 0L, System.currentTimeMillis() + 60000L)
      val after = Snapshot.erasureAudit(spark, t, col("id") === 1L)
        .as[(Long, Long, Boolean, Long)].collect()
      assert(after.toSeq == Seq((2L, 0L, true, 0L)),
        "only the clean head survives; nothing retains")
    }
  }

  test("commitChecked: a violating batch is refused atomically, the " +
    "clean batch commits, per-rule counts come from one pass") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val bad = Seq((1L, 10L), (2L, -3L), (3L, 7L)).toDF("id", "v")
      val rules = Seq("v_positive" -> (col("v") > 0),
        "id_small" -> (col("id") < 100))
      assert(Snapshot.commitChecked(bad, t, rules).isEmpty)
      assert(Snapshot.versions(t).isEmpty, "refusal leaves no version")
      val viol = Snapshot.checkConstraints(bad, rules)
        .as[(String, Long)].collect().toMap
      assert(viol == Map("v_positive" -> 1L, "id_small" -> 0L))
      assert(Snapshot.commitChecked(bad.filter(col("v") > 0), t,
        rules) == Some(1L))
      assert(Snapshot.read(spark, t).count() == 2L)
    }
  }

  test("writeAmplification: per-version written/net/amp from manifest stats") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
        .toDF("id", "v"), t)
      Snapshot.deleteWhere(spark, t, col("id") === 4L)
      val out = Snapshot.writeAmplification(spark, t)
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(out.toSeq == Seq((1L, 4L, 4L, 4L, 1000000L),
        (2L, 3L, 3L, -1L, 3000000L)))
    }
  }


  test("changelog: per-version added/removed/changed rows") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)
      Snapshot.commit(Seq((1L, 10L), (2L, 99L), (3L, 30L))
        .toDF("id", "v"), t)
      Snapshot.commit(Seq((1L, 10L), (3L, 30L)).toDF("id", "v"), t)
      val out = Snapshot.changelog(spark, t, 1L, 3L, Seq("id"))
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((2L, "changed", 2L), (3L, "added", 2L),
        (2L, "removed", 3L)))
    }
  }

  test("describeTable: manifest-only operational summary") {
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
      val m = Snapshot.describeTable(spark, t)
        .as[(String, String, String)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(m(("version", "current")) == "1")
      assert(m(("data", "rows")) == "2")
      assert(m(("spec", "partition_col")) == "(none)")
      assert(m(("mor", "dv_dirs")) == "0")
      assert(m(("refs", "tags")) == "0")
    }
  }


  test("pruningReport: per-file zone maps count scanned vs skipped") {
    import org.apache.spark.sql.functions.col
    withTempDir { dir =>
      val t = dir.getAbsolutePath + "/t"
      val rows = (0L until 30L).map(i => (i, i / 10)).toDF("id", "band")
      Snapshot.commit(rows.repartition(1), t,
        partitionCol = Some("band"))
      val r = Snapshot.pruningReport(spark, t, "id",
        Some("0"), Some("12"))
        .as[(Long, Long, Long, Long, Long, Long)].head()
      assert(r == ((3L, 2L, 1L, 30L, 20L, 333333L)),
        "bands 0 and 1 intersect [0, 12]; band 2 skips whole")
    }
  }


  test("fastForward: adopts the branch head shallowly; a moved source " +
    "refuses instead of dropping commits") {
    withTempDir { dir =>
      val main = dir.getAbsolutePath + "/m"
      val br = dir.getAbsolutePath + "/b"
      Snapshot.commit(Seq((1L, "a")).toDF("id", "v"), main)
      Snapshot.cloneTable(main, br)
      Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), br)
      assert(Snapshot.fastForward(main, br, 1L) == 2L)
      assert(Snapshot.read(spark, main).count() == 2L)
      // divergence: main moves, the stale-base fast-forward refuses
      Snapshot.commit(Seq((9L, "z")).toDF("id", "v"), main)
      intercept[Snapshot.ConcurrentCommitException] {
        Snapshot.fastForward(main, br, 2L)
      }
      assert(Snapshot.read(spark, main).select($"id")
        .as[Long].collect().toSet == Set(9L),
        "the refused fast-forward changed nothing")
    }
  }

}

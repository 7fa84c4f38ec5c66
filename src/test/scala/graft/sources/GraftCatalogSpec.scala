package graft.sources

import graft.SparkSpec
import graft.ktk.{DatasetMetadata, Ktk}
import org.apache.spark.sql.functions._

/** Pure-SQL surface through the [[GraftCatalog]] plugin: SELECT / INSERT /
  * DELETE (deletion vectors) / SHOW / CREATE / DROP / RENAME all route
  * through the same versioned commit protocol as the programmatic API.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // catalog instances cache per NAME at first use, so each test gets its
  // own catalog name bound to its own base dir
  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val base = tmpDir("cat")
    n += 1
    val cat = s"gk$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    f(cat, base)
  }

  test("SELECT, SHOW TABLES, INSERT INTO through the catalog") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t1",
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p"))
      spark.sql(s"SHOW TABLES IN $gk.default").select("tableName")
        .as[String].collect().toSeq shouldBe Seq("t1")
      spark.sql(s"SELECT k, v FROM $gk.default.t1 WHERE p = 'a'")
        .as[(Long, Double)].collect().toSeq shouldBe Seq((1L, 10.0))
      spark.sql(s"INSERT INTO $gk.default.t1 (k, p, v) VALUES (3, 'c', 30.0)")
      spark.sql(s"SELECT count(*) FROM $gk.default.t1").as[Long].head() shouldBe 3L
      // the INSERT was one versioned commit
      DatasetMetadata.load(spark, base, "t1").version shouldBe 2L
    }
  }

  test("DELETE FROM ... WHERE is a deletion-vector commit; no WHERE truncates") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t2",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p"))
      val files0 = DatasetMetadata.load(spark, base, "t2").partitions.keySet
      spark.sql(s"DELETE FROM $gk.default.t2 WHERE v > 15.0 AND p = 'a'")
      val md1 = DatasetMetadata.load(spark, base, "t2")
      md1.partitions.keySet shouldBe files0 // merge-on-read: no rewrite
      md1.deleteFragments should have size 1
      spark.sql(s"SELECT k FROM $gk.default.t2 ORDER BY k")
        .as[Long].collect().toSeq shouldBe Seq(1L, 3L)
      // OR conditions translate through DNF
      spark.sql(s"DELETE FROM $gk.default.t2 WHERE k = 1 OR k = 3")
      spark.sql(s"SELECT count(*) FROM $gk.default.t2").as[Long].head() shouldBe 0L
      // full-table DELETE: metadata-only truncate, time travel intact
      Ktk.update(spark, base, "t2", Some(Seq((9L, "c", 90.0)).toDF("k", "p", "v")))
      spark.sql(s"DELETE FROM $gk.default.t2")
      spark.sql(s"SELECT count(*) FROM $gk.default.t2").as[Long].head() shouldBe 0L
      Ktk.readTableAsOf(spark, base, "t2", 1L).count() shouldBe 3
    }
  }

  test("CREATE TABLE (partitioned), INSERT, DROP, RENAME") {
    withCatalog { (gk, base) =>
      spark.sql(
        s"CREATE TABLE $gk.default.t3 (k BIGINT, p STRING, v DOUBLE) PARTITIONED BY (p)")
      DatasetMetadata.load(spark, base, "t3").partitionKeys shouldBe Seq("p")
      spark.sql(s"INSERT INTO $gk.default.t3 (k, p, v) VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
      spark.sql(s"SELECT sum(v) FROM $gk.default.t3").as[Double].head() shouldBe 4.0
      // hive-layout partition dirs came from the normal write pipeline
      DatasetMetadata.load(spark, base, "t3").partitions.keys
        .forall(_.startsWith("p=")) shouldBe true
      // RENAME TO is catalog-relative
      spark.sql(s"ALTER TABLE $gk.default.t3 RENAME TO default.t4")
      spark.sql(s"SELECT count(*) FROM $gk.default.t4").as[Long].head() shouldBe 2L
      DatasetMetadata.exists(spark, base, "t3") shouldBe false
      spark.sql(s"DROP TABLE $gk.default.t4")
      DatasetMetadata.listDatasets(spark, base) shouldBe Nil
    }
  }

  test("CALL procedures: compact, gc dry-run parity, rollback, zorder") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t6",
        (0L until 200L).map(i => (i, (i % 2).toString, i * 1.0)).toSeq
          .toDF("k", "p", "v").repartition(4),
        partitionOn = Seq("p"), zoneMapFor = Seq("k"))
      spark.sql(s"DELETE FROM $gk.default.t6 WHERE k < 10") // v2: DV commit
      // compact drains tombstones and reports the committed version
      // scoped compact first: an out-of-everything scope is a no-op commit
      spark.sql(s"CALL $gk.system.compact(table => 't6', where => 'p == nosuch')")
      val c = spark.sql(s"CALL $gk.system.compact(table => 't6')")
        .as[(Long, Long)].head()
      c._1 shouldBe 3L
      DatasetMetadata.load(spark, base, "t6").deleteFragments shouldBe empty
      spark.sql(s"SELECT count(*) FROM $gk.default.t6").as[Long].head() shouldBe 190L
      // gc dry-run lists exactly what the real gc then deletes
      val plan = spark.sql(
        s"CALL $gk.system.gc(table => 't6', dry_run => true)").as[String].collect().toSet
      plan should not be empty
      // the SQL plan is the API's plan; gc_report carries the full count +
      // a bounded list (the DataFrame-returning incident-scale variant)
      graft.ktk.Ktk.garbageCollect(spark, base, "t6", dryRun = true).toSet shouldBe plan
      val rep = spark.sql(
        s"CALL $gk.system.gc_report(table => 't6', dry_run => true, report_limit => 1)")
        .as[(String, Long, Boolean)].collect()
      rep.length shouldBe 1
      rep.head._2 shouldBe plan.size.toLong
      rep.head._3 shouldBe (plan.size > 1)
      plan should contain(rep.head._1)
      // a clean table's salvage_report returns the zero-count summary row
      val srep = spark.sql(
        s"CALL $gk.system.salvage_report(table => 't6', dry_run => true)")
        .collect()
      srep.length shouldBe 1
      srep.head.isNullAt(0) shouldBe true
      srep.head.getLong(2) shouldBe 0L
      srep.head.getBoolean(3) shouldBe false
      val real = spark.sql(s"CALL $gk.system.gc(table => 't6')").as[String].collect().toSet
      real shouldBe plan
      // zorder rewrites the layout; content intact
      spark.sql(s"CALL $gk.system.zorder(table => 't6', columns => 'k,v')")
      spark.sql(s"SELECT count(*) FROM $gk.default.t6").as[Long].head() shouldBe 190L
      // rollback by version through SQL (to the pre-zorder snapshot)
      val vNow = DatasetMetadata.load(spark, base, "t6").version
      spark.sql(s"CALL $gk.system.rollback(table => 't6', version => ${vNow - 1})")
      spark.sql(s"SELECT count(*) FROM $gk.default.t6").as[Long].head() shouldBe 190L
      // skipping-sidecar registration through SQL: one commit each, and
      // the registries land exactly like the CLI/API verbs
      spark.sql(s"CALL $gk.system.add_index(table => 't6', column => 'v')")
      spark.sql(s"CALL $gk.system.add_bloom(table => 't6', column => 'v')")
      spark.sql(s"CALL $gk.system.add_zonemaps(table => 't6', columns => 'v')")
      val md6 = DatasetMetadata.load(spark, base, "t6")
      md6.indices.keySet should contain("v")
      md6.bloomRegistry.keySet should contain("v")
      md6.zoneColumns should contain("v")
      spark.sql(s"SELECT count(*) FROM $gk.default.t6 WHERE v = 20.0")
        .as[Long].head() shouldBe 1L
      // blank columns fail loudly instead of committing a no-op version
      val vBefore = DatasetMetadata.load(spark, base, "t6").version
      val err = intercept[Exception] {
        spark.sql(s"CALL $gk.system.add_zonemaps(table => 't6', columns => ' , ')")
      }
      err.getMessage should include("at least one column")
      DatasetMetadata.load(spark, base, "t6").version shouldBe vBefore
    }
  }

  test("CALL system.history reports the commit lineage with rollback attribution") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t8",
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p")) // v1
      Ktk.deleteRows(spark, base, "t8",
        predicates = graft.core.Predicates.of(Seq(("k", "==", 1)))) // v2
      Ktk.rollback(spark, base, "t8", 1L) // v3
      val h = spark.sql(s"CALL $gk.system.history(table => 't8')")
        .select("version", "files", "tombstone_fragments", "is_rollback", "rollback_of")
        .as[(Long, Long, Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
      h.map(_._1) shouldBe Seq(1L, 2L, 3L)
      h(0) shouldBe ((1L, 2L, 0L, false, None))
      h(1)._3 shouldBe 1L // the DV commit carries one fragment
      h(2) shouldBe ((3L, 2L, 0L, true, Some(1L)))
      // committed_at mtimes are present and monotone-ish
      val ts = spark.sql(s"CALL $gk.system.history(table => 't8')")
        .select("committed_at").as[java.sql.Timestamp].collect()
      all(ts.map(_ != null)) shouldBe true
      // CLI twin renders the same lineage
      graft.tools.Cli.run(spark, Array("history", base, "t8"))
    }
  }

  test("VERSION AS OF time travel and TRUNCATE TABLE through SQL") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t7",
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), partitionOn = Seq("p")) // v1
      Ktk.update(spark, base, "t7", Some(Seq((3L, "c")).toDF("k", "p"))) // v2
      spark.sql(s"SELECT count(*) FROM $gk.default.t7 VERSION AS OF 1")
        .as[Long].head() shouldBe 2L
      spark.sql(s"SELECT count(*) FROM $gk.default.t7 VERSION AS OF 2")
        .as[Long].head() shouldBe 3L
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $gk.default.t7 TIMESTAMP AS OF '2026-01-01'").collect()
      }
      spark.sql(s"TRUNCATE TABLE $gk.default.t7")
      spark.sql(s"SELECT count(*) FROM $gk.default.t7").as[Long].head() shouldBe 0L
      // truncate is metadata-only: history stays travelable
      spark.sql(s"SELECT count(*) FROM $gk.default.t7 VERSION AS OF 2")
        .as[Long].head() shouldBe 3L
    }
  }

  test("TIMESTAMP AS OF resolves against the history's committed_at") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "tt",
        Seq((1L, 10.0)).toDF("k", "v")) // v1
      Thread.sleep(1500) // committed_at granularity is the FS mtime (≥1s on some)
      Ktk.update(spark, base, "tt", Some(Seq((2L, 20.0)).toDF("k", "v"))) // v2
      val committed = Ktk.history(spark, base, "tt")
        .select("version", "committed_at").as[(Long, java.sql.Timestamp)]
        .collect().toMap
      val t1 = committed(1L).toInstant.toString
      spark.sql(s"SELECT count(*) FROM $gk.default.tt TIMESTAMP AS OF '$t1'")
        .as[Long].head() shouldBe 1L
      spark.sql(s"SELECT count(*) FROM $gk.default.tt TIMESTAMP AS OF '${committed(2L).toInstant}'")
        .as[Long].head() shouldBe 2L
      // an instant before the first commit has no snapshot
      val ex = intercept[Exception] {
        spark.sql(s"SELECT * FROM $gk.default.tt TIMESTAMP AS OF '2001-01-01'").collect()
      }
      ex.getMessage should include("no commit at or before")
    }
  }

  test("ALTER TABLE ADD COLUMNS evolves additively; old files read null") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "ta", Seq((1L, 10.0)).toDF("k", "v")) // v1
      spark.sql(s"ALTER TABLE $gk.default.ta ADD COLUMNS (tag STRING, n INT)")
      // metadata-only commit: no data files moved
      val md = DatasetMetadata.load(spark, base, "ta")
      md.version shouldBe 2L
      // normalized like every write: payload alphabetical, int promoted
      md.schema.fieldNames.toSeq shouldBe Seq("k", "n", "tag", "v")
      spark.sql(s"SELECT k, tag, n FROM $gk.default.ta")
        .as[(Long, Option[String], Option[Long])].collect().toSeq shouldBe
        Seq((1L, None, None))
      // the evolved column is immediately writable (scan order: k,n,tag,v)
      spark.sql(s"INSERT INTO $gk.default.ta VALUES (2, 5, 'x', 20.0)")
      spark.sql(s"SELECT sum(n) FROM $gk.default.ta").as[Long].head() shouldBe 5L
      // destructive shapes refuse
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.ta DROP COLUMN tag")
      }.getMessage should include("additively")
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.ta RENAME COLUMN tag TO t2")
      }.getMessage should include("additively")
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.ta ADD COLUMNS (k STRING)")
      }.getMessage should include("already exists")
    }
  }

  test("SET/UNSET TBLPROPERTIES commit user metadata; graft.* stays reserved") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "tp", Seq((1L, 10.0)).toDF("k", "v"))
      spark.sql(s"ALTER TABLE $gk.default.tp SET TBLPROPERTIES ('owner.team' = 'data', 'tier' = 'gold')")
      val props = spark.sql(s"SHOW TBLPROPERTIES $gk.default.tp")
        .as[(String, String)].collect().toMap
      props("owner.team") shouldBe "data"
      props("tier") shouldBe "gold"
      spark.sql(s"ALTER TABLE $gk.default.tp UNSET TBLPROPERTIES ('tier')")
      spark.sql(s"SHOW TBLPROPERTIES $gk.default.tp")
        .as[(String, String)].collect().toMap.contains("tier") shouldBe false
      // property commits are versioned like everything else
      DatasetMetadata.load(spark, base, "tp").version shouldBe 3L
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.tp SET TBLPROPERTIES ('graft.sort_by' = 'k')")
      }.getMessage should include("reserved")
    }
  }

  test("SHOW CREATE TABLE and DESCRIBE surface schema, partitioning, properties") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "tsc",
        Seq((1L, "a", 10.0)).toDF("k", "p", "v"), partitionOn = Seq("p"),
        userMetadata = Map("team" -> "data"))
      val ddl = spark.sql(s"SHOW CREATE TABLE $gk.default.tsc")
        .as[String].head()
      ddl should include("CREATE TABLE")
      ddl should (include("`k` BIGINT") or include("k BIGINT"))
      ddl should include("PARTITIONED BY")
      val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $gk.default.tsc")
        .select("col_name", "data_type").as[(String, String)].collect().toMap
      desc("k") shouldBe "bigint"
      desc should contain key "# Partition Information"
    }
  }

  test("DataFrameWriterV2 surface: append / overwritePartitions / replace") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "twv2",
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p")) // v1
      // append (scan order: k, v, p)
      Seq((3L, 30.0, "c")).toDF("k", "v", "p")
        .writeTo(s"$gk.default.twv2").append()
      spark.table(s"$gk.default.twv2").count() shouldBe 3
      // overwritePartitions = dynamic overwrite: only p='a' swaps
      Seq((7L, 70.0, "a")).toDF("k", "v", "p")
        .writeTo(s"$gk.default.twv2").overwritePartitions()
      spark.sql(s"SELECT k FROM $gk.default.twv2 ORDER BY k")
        .as[Long].collect().toSeq shouldBe Seq(2L, 3L, 7L)
      // createOrReplace = RTAS on the same version line
      Seq((9L, "z")).toDF("k", "tag").writeTo(s"$gk.default.twv2").createOrReplace()
      spark.table(s"$gk.default.twv2").columns.toSeq should contain("tag")
      spark.sql(s"SELECT count(*) FROM $gk.default.twv2 VERSION AS OF 1")
        .as[Long].head() shouldBe 2L
    }
  }

  test("dynamic partition overwrite replaces exactly the batch's partitions") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "tdyn",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
          .toDF("k", "p", "v"),
        partitionOn = Seq("p")) // v1
      val files0 = DatasetMetadata.load(spark, base, "tdyn").partitions.keySet
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // batch touches p='a' and p='c' only: 'b' survives untouched
        // (connector scan order: k, v, p)
        spark.sql(
          s"INSERT OVERWRITE $gk.default.tdyn VALUES (7, 70.0, 'a'), (8, 80.0, 'c')")
        spark.sql(s"SELECT k, p, v FROM $gk.default.tdyn ORDER BY k")
          .as[(Long, String, Double)].collect().toSeq shouldBe Seq(
          (3L, "b", 30.0), (7L, "a", 70.0), (8L, "c", 80.0))
        // untouched partitions keep their ORIGINAL files (no rewrite), one
        // versioned commit, and pre-overwrite content stays travelable
        val md = DatasetMetadata.load(spark, base, "tdyn")
        md.version shouldBe 2L
        files0.filter(_.contains("p=b")).subsetOf(md.partitions.keySet) shouldBe true
        spark.sql(s"SELECT count(*) FROM $gk.default.tdyn VERSION AS OF 1")
          .as[Long].head() shouldBe 4L
        // a batch with a NULL partition value refuses before committing
        intercept[Exception] {
          spark.sql(s"INSERT OVERWRITE $gk.default.tdyn VALUES (9, 90.0, NULL)")
        }.getMessage should include("null values in partition columns")
        DatasetMetadata.load(spark, base, "tdyn").version shouldBe 2L
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("INSERT OVERWRITE is a versioned content swap, full-table and per-partition") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "to",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p")) // v1
      // static partition overwrite: only p='a' swaps
      spark.sql(s"INSERT OVERWRITE $gk.default.to PARTITION (p = 'a') VALUES (7, 70.0)")
      spark.sql(s"SELECT k FROM $gk.default.to ORDER BY k")
        .as[Long].collect().toSeq shouldBe Seq(3L, 7L)
      // full overwrite also sheds a pending deletion vector
      spark.sql(s"DELETE FROM $gk.default.to WHERE k = 3")
      DatasetMetadata.load(spark, base, "to").deleteFragments should have size 1
      // connector column order is scan order: payload (k, v) then p
      spark.sql(s"INSERT OVERWRITE $gk.default.to VALUES (9, 90.0, 'z')")
      val md = DatasetMetadata.load(spark, base, "to")
      md.deleteFragments shouldBe empty
      spark.sql(s"SELECT k, p, v FROM $gk.default.to")
        .as[(Long, String, Double)].collect().toSeq shouldBe Seq((9L, "z", 90.0))
      // a swap, not a clobber: pre-overwrite versions stay travelable
      spark.sql(s"SELECT count(*) FROM $gk.default.to VERSION AS OF 1")
        .as[Long].head() shouldBe 3L
      // overwrite scoped to a NON-partition column refuses
      intercept[Exception] {
        spark.sql(s"INSERT INTO $gk.default.to REPLACE WHERE k = 9 VALUES (1, 1.0, 'a')")
      }
      // REPLACE WHERE with out-of-scope source rows refuses BEFORE the
      // commit (the appended row lands in p='y', scope is p='z')
      val before = spark.sql(s"SELECT k FROM $gk.default.to").as[Long].collect().toSet
      intercept[Exception] {
        spark.sql(s"INSERT INTO $gk.default.to REPLACE WHERE p = 'z' VALUES (8, 80.0, 'y')")
      }.getMessage should include("scope violation")
      spark.sql(s"SELECT k FROM $gk.default.to").as[Long].collect().toSet shouldBe before
    }
  }

  test("DDL refusals: NOT NULL adds, duplicate adds, graft.* properties at create") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "tr", Seq((1L, 10.0)).toDF("k", "v"))
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.tr ADD COLUMNS (c INT NOT NULL)")
      }.getMessage should include("unsatisfiable")
      intercept[Exception] {
        Ktk.addColumns(spark, base, "tr", Seq(
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("N", org.apache.spark.sql.types.StringType)))
      }.getMessage should include("duplicate")
      // a graft.* TBLPROPERTIES injection at CREATE/CTAS would land live
      // engine state SQL can neither see nor remove
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $gk.default.evil (k BIGINT) " +
          "TBLPROPERTIES ('graft.constraint.no' = 'false')")
      }.getMessage should include("reserved")
      DatasetMetadata.exists(spark, base, "evil") shouldBe false
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $gk.default.evil2 " +
          s"TBLPROPERTIES ('graft.sort_by' = 'k') AS SELECT 1 AS one")
      }.getMessage should include("reserved")
      DatasetMetadata.exists(spark, base, "evil2") shouldBe false
    }
  }

  test("CTAS is atomic (staged); REPLACE TABLE AS SELECT swaps schema on the same version line") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "src_ctas",
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("k", "p", "v"))
      // CTAS: one commit, table appears fully formed
      spark.sql(s"""CREATE TABLE $gk.default.agg PARTITIONED BY (p) AS
                   |SELECT p, sum(v) AS total, count(*) AS cnt
                   |FROM $gk.default.src_ctas GROUP BY p""".stripMargin)
      val md = DatasetMetadata.load(spark, base, "agg")
      md.version shouldBe 1L
      md.partitionKeys shouldBe Seq("p")
      spark.sql(s"SELECT p, total FROM $gk.default.agg ORDER BY p")
        .as[(String, Double)].collect().toSeq shouldBe Seq(("a", 40.0), ("b", 20.0))
      // a FAILING CTAS leaves no trace (execution happens at the atomic
      // commit point; assert_true throws mid-job)
      intercept[Exception] {
        spark.sql(s"""CREATE TABLE $gk.default.boom AS
                     |SELECT k, assert_true(v < 15.0) AS chk FROM $gk.default.src_ctas""".stripMargin)
      }
      DatasetMetadata.exists(spark, base, "boom") shouldBe false
      spark.sql(s"SHOW TABLES IN $gk.default").select("tableName")
        .as[String].collect().toSet should not contain "boom"
      // RTAS: entirely new schema + partitioning, SAME version line
      spark.sql(s"""REPLACE TABLE $gk.default.agg AS
                   |SELECT k, v * 2 AS dbl FROM $gk.default.src_ctas""".stripMargin)
      val md2 = DatasetMetadata.load(spark, base, "agg")
      md2.version shouldBe 2L
      md2.partitionKeys shouldBe Nil
      spark.sql(s"SELECT k, dbl FROM $gk.default.agg ORDER BY k")
        .as[(Long, Double)].collect().toSeq shouldBe
        Seq((1L, 20.0), (2L, 40.0), (3L, 60.0))
      // the pre-replace snapshot keeps its own schema and content
      spark.sql(s"SELECT p, total FROM $gk.default.agg VERSION AS OF 1 ORDER BY p")
        .as[(String, Double)].collect().toSeq shouldBe Seq(("a", 40.0), ("b", 20.0))
      // CREATE OR REPLACE works for both absent and present targets
      spark.sql(s"CREATE OR REPLACE TABLE $gk.default.agg AS SELECT 1 AS one")
      spark.sql(s"SELECT one FROM $gk.default.agg").as[Long].head() shouldBe 1L
      spark.sql(s"CREATE OR REPLACE TABLE $gk.default.fresh AS SELECT 2 AS two")
      spark.sql(s"SELECT two FROM $gk.default.fresh").as[Long].head() shouldBe 2L
    }
  }

  test("SHOW PARTITIONS and ALTER TABLE DROP PARTITION") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "pm", Seq(
        (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 10L), (4L, "c", 30L)
      ).toDF("k", "p", "n"), partitionOn = Seq("p"))
      spark.sql(s"SHOW PARTITIONS $gk.default.pm")
        .as[String].collect().sorted.toSeq shouldBe Seq("p=a", "p=b", "p=c")
      spark.sql(s"SHOW PARTITIONS $gk.default.pm PARTITION (p = 'b')")
        .as[String].collect().toSeq shouldBe Seq("p=b")
      val files0 = DatasetMetadata.load(spark, base, "pm").partitions.keySet
      spark.sql(s"ALTER TABLE $gk.default.pm DROP PARTITION (p = 'a')")
      spark.sql(s"SELECT k FROM $gk.default.pm ORDER BY k")
        .as[Long].collect().toSeq shouldBe Seq(3L, 4L)
      // a metadata-only commit: nothing rewritten, history travelable
      val md1 = DatasetMetadata.load(spark, base, "pm")
      md1.partitions.keySet.subsetOf(files0) shouldBe true
      Ktk.readTableAsOf(spark, base, "pm", 1L).count() shouldBe 4
      // absent partition → Spark's NoSuchPartition analysis error
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.pm DROP PARTITION (p = 'zzz')")
      }
      // IF EXISTS tolerates it
      spark.sql(s"ALTER TABLE $gk.default.pm DROP IF EXISTS PARTITION (p = 'zzz')")
      // partitions are write-created: ADD PARTITION refuses
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $gk.default.pm ADD PARTITION (p = 'new')")
      }
      // multi-key listing stays typed (long partition key)
      Ktk.store(spark, base, "pm2", Seq((1L, 7L, "x")).toDF("k", "b", "s"),
        partitionOn = Seq("b"))
      spark.sql(s"SHOW PARTITIONS $gk.default.pm2")
        .as[String].collect().toSeq shouldBe Seq("b=7")
    }
  }

  test("unsupported delete shapes fail at analysis, deleting nothing") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "t5", Seq((1L, "ab")).toDF("k", "s"))
      intercept[Exception] {
        spark.sql(s"DELETE FROM $gk.default.t5 WHERE s LIKE 'a%'")
      }
      spark.sql(s"SELECT count(*) FROM $gk.default.t5").as[Long].head() shouldBe 1L
    }
  }

  test("metadata tables: history, files, partitions, tombstones via 4-part names") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "mt",
        Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v"),
        partitionOn = Seq("p")) // v1
      spark.sql(s"DELETE FROM $gk.default.mt WHERE k = 2") // v2: one DV fragment

      // history mirrors Ktk.history
      val hist = spark.sql(
        s"SELECT version, files, tombstone_fragments, is_rollback FROM $gk.default.mt.history ORDER BY version")
        .as[(Long, Long, Long, Boolean)].collect().toSeq
      hist.map(_._1) shouldBe Seq(1L, 2L)
      hist.last._3 shouldBe 1L // the DELETE's fragment
      hist.map(_._4) shouldBe Seq(false, false)

      // operation attribution: each commit reports ITS verb, never an
      // inherited copy of the previous commit's
      val ops = spark.sql(
        s"SELECT version, operation FROM $gk.default.mt.history ORDER BY version")
        .as[(Long, String)].collect().toSeq
      ops shouldBe Seq(1L -> "WRITE", 2L -> "DELETE")

      // files = the live label list with sizes, seqs and partition values
      val files = spark.sql(
        s"SELECT file, size_bytes, partition_values['p'] FROM $gk.default.mt.files")
        .as[(String, Long, String)].collect().toSeq
      val md = DatasetMetadata.load(spark, base, "mt")
      files.map(_._1).toSet shouldBe md.partitions.keySet
      files.foreach { case (f, sz, pv) =>
        sz shouldBe md.partitions(f)
        pv shouldBe md.partitionValues(f)("p")
      }

      // partitions aggregates per tuple, typed columns
      val parts = spark.sql(
        s"SELECT p, files, size_bytes FROM $gk.default.mt.partitions ORDER BY p")
        .as[(String, Long, Long)].collect().toSeq
      parts.map(_._1) shouldBe Seq("a", "b")
      parts.map(_._2).sum shouldBe md.partitions.size.toLong
      parts.map(_._3).sum shouldBe md.partitions.values.sum

      // tombstones lists pending DV fragments; drained by maintenance
      spark.sql(s"SELECT count(*) FROM $gk.default.mt.tombstones").as[Long].head() shouldBe 1L
      Ktk.materializeDeletes(spark, base, "mt")
      spark.sql(s"SELECT count(*) FROM $gk.default.mt.tombstones").as[Long].head() shouldBe 0L

      // the scan is LOCAL: no exchange, no file source — plan says local scan
      val plan = spark.sql(s"SELECT * FROM $gk.default.mt.files")
        .queryExecution.executedPlan.toString
      plan.toLowerCase should include("localtablescan")

      // metadata tables TRAVEL: the tombstones listing of snapshot v2 still
      // shows the fragment materialize later drained; v1 predates the DELETE
      spark.sql(s"SELECT count(*) FROM $gk.default.mt.tombstones VERSION AS OF 2")
        .as[Long].head() shouldBe 1L
      spark.sql(s"SELECT count(*) FROM $gk.default.mt.tombstones VERSION AS OF 1")
        .as[Long].head() shouldBe 0L
      spark.sql(s"SELECT max(version) FROM $gk.default.mt.history VERSION AS OF 1")
        .as[Long].head() shouldBe 1L

      // unknown metadata name / missing dataset stay unresolvable
      intercept[Exception] { spark.sql(s"SELECT * FROM $gk.default.mt.nope").collect() }
      intercept[Exception] { spark.sql(s"SELECT * FROM $gk.default.absent.files").collect() }
    }
  }

  test("metadata tables: audit and orphans surface the bounded fsck report") {
    withCatalog { (gk, base) =>
      Ktk.store(spark, base, "au",
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), partitionOn = Seq("p"))
      // a clean tree audits clean through SQL
      spark.sql(s"SELECT count(*) FROM $gk.default.au.audit")
        .as[Long].head() shouldBe 0L
      spark.sql(s"SELECT count(*) FROM $gk.default.au.orphans")
        .as[Long].head() shouldBe 0L
      // plant two orphan data files
      val md = DatasetMetadata.load(spark, base, "au")
      val fs = DatasetMetadata.fs(spark, base)
      for (n <- Seq("stray1", "stray2")) {
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"${md.tableDir(base)}/p=a/$n.parquet"), true)
        out.write(1); out.close()
      }
      val orph = spark.sql(
        s"SELECT kind, path FROM $gk.default.au.orphans ORDER BY path")
        .as[(String, String)].collect().toSeq
      orph.map(_._1) shouldBe Seq("orphan_file", "orphan_file")
      orph.map(_._2).forall(_.contains("stray")) shouldBe true
      // .audit carries the same rows (it is the full report)
      spark.sql(s"SELECT count(*) FROM $gk.default.au.audit WHERE kind = 'orphan_file'")
        .as[Long].head() shouldBe 2L
      // the SQL view honors the same cap + overflow contract as CALL fsck
      try {
        spark.conf.set("spark.graft.fsck.orphanLimit", "1")
        val capped = spark.sql(
          s"SELECT kind, version FROM $gk.default.au.orphans ORDER BY kind")
          .as[(String, Long)].collect().toSeq
        capped.map(_._1) shouldBe Seq("orphan_file", "orphan_overflow")
        capped.last._2 shouldBe 2L // full count rides the overflow row
      } finally spark.conf.unset("spark.graft.fsck.orphanLimit")
      // audits run against LIVE storage: time travel is refused loudly
      val err = intercept[Exception] {
        spark.sql(s"SELECT * FROM $gk.default.au.orphans VERSION AS OF 1").collect()
      }
      err.getMessage should include("cannot time-travel")
    }
  }
}

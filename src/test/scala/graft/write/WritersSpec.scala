package graft.write

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The write-semantics laws from SURVEY.md §5: W3/W4 idempotency (run twice ≡
  * run once), latest-wins correctness under shuffled input order, upsert
  * key-disjointness. Property inputs are drawn with plain ScalaCheck Gen
  * (deterministic seeds) — scalatestplus isn't on the offline classpath.
  */
class WritersSpec extends SparkSpec {
  import spark.implicits._

  private def rows(data: Seq[(Int, Int, String)]): DataFrame =
    data.toDF("key", "version", "payload")

  private val genRows: Gen[List[(Int, Int, String)]] =
    Gen.listOf(for {
      k <- Gen.choose(0, 20)
      v <- Gen.choose(0, 100)
      p <- Gen.alphaStr.map(_.take(8))
    } yield (k, v, p))

  private def samples(n: Int): Seq[List[(Int, Int, String)]] =
    (0 until n).flatMap(i => genRows.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("latestWins keeps exactly the max-version row per key") {
    val df = rows(Seq((1, 1, "old"), (1, 2, "new"), (2, 5, "only")))
    val out = Writers.latestWins(df, Seq("key"), Seq("version"))
      .as[(Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1, 2, "new"), (2, 5, "only")))
  }

  test("latestWins is insensitive to input order (shuffled input law)") {
    for (data <- samples(8) if data.nonEmpty) {
      // tie-break on payload so ordering is total — the determinism
      // requirement documented on latestWins
      val a = Writers.latestWins(rows(data), Seq("key"), Seq("version", "payload"))
        .as[(Int, Int, String)].collect().toSet
      val b = Writers.latestWins(rows(new scala.util.Random(7).shuffle(data)),
        Seq("key"), Seq("version", "payload"))
        .as[(Int, Int, String)].collect().toSet
      assert(a === b)
      assert(a.groupBy(_._1).forall(_._2.size == 1)) // one row per key
    }
  }

  test("incrementalDedup run twice with same batch ≡ run once (idempotency)") {
    val base = rows(Seq((1, 1, "a"), (2, 1, "b")))
    val batch = rows(Seq((1, 2, "a2"), (3, 1, "c")))
    val once = Writers.incrementalDedup(base, batch, Seq("key"), Seq("version", "payload"))
    val twice = Writers.incrementalDedup(once, batch, Seq("key"), Seq("version", "payload"))
    assert(once.as[(Int, Int, String)].collect().toSet ===
      twice.as[(Int, Int, String)].collect().toSet)
  }

  test("upsert replaces matching keys and appends new ones; run twice ≡ once") {
    val base = rows(Seq((1, 1, "a"), (2, 1, "b")))
    val incoming = rows(Seq((2, 9, "b9"), (3, 1, "c")))
    val out = Writers.upsert(base, incoming, Seq("key"))
      .as[(Int, Int, String)].collect().toSet
    assert(out === Set((1, 1, "a"), (2, 9, "b9"), (3, 1, "c")))
    val again = Writers.upsert(Writers.upsert(base, incoming, Seq("key")), incoming, Seq("key"))
      .as[(Int, Int, String)].collect().toSet
    assert(again === out)
  }

  test("upsert: incoming rows survive verbatim, old rows with incoming keys don't") {
    for {
      (oldData, i) <- samples(6).zipWithIndex
      newData <- genRows.apply(Gen.Parameters.default, Seed(1000L + i))
    } {
      val out = Writers.upsert(rows(oldData), rows(newData), Seq("key"))
        .as[(Int, Int, String)].collect()
      val newKeys = newData.map(_._1).toSet
      assert(newData.toSet.subsetOf(out.toSet))
      assert(out.filterNot(newData.contains).forall(r => !newKeys.contains(r._1)))
    }
  }

  test("appendDistinct eliminates exact duplicates only") {
    val a = rows(Seq((1, 1, "x"), (1, 1, "x"), (2, 1, "y")))
    val b = rows(Seq((1, 1, "x"), (3, 1, "z")))
    val out = Writers.appendDistinct(a, b).as[(Int, Int, String)].collect().toSet
    assert(out === Set((1, 1, "x"), (2, 1, "y"), (3, 1, "z")))
  }

  test("withAudit appends a created_date timestamp column") {
    val out = Writers.withAudit(rows(Seq((1, 1, "a"))))
    assert(out.columns.contains("created_date"))
    assert(out.schema("created_date").dataType.typeName === "timestamp")
    assert(out.filter(col("created_date").isNull).count() === 0)
  }

  private val scdEnd = "9999-12-31"
  private def scdDim(data: Seq[(Int, String, String, String, Boolean)]): DataFrame =
    data.toDF("key", "attr", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", col("valid_from").cast("date"))
      .withColumn("valid_to", col("valid_to").cast("date"))
  private def scd(dim: DataFrame, batch: DataFrame) =
    Writers.scd2Merge(dim, batch, Seq("key"), Seq("attr"),
      effective = lit("2024-06-01").cast("date"), openEnd = lit(scdEnd).cast("date"))
  private def asRows(df: DataFrame): Set[(Int, String, String, String, Boolean)] =
    df.select(col("key"), col("attr"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Int, String, String, String, Boolean)].collect().toSet

  test("scd2Merge closes changed rows, inserts new keys, no-ops unchanged") {
    // key 1 changes, key 2 is untouched by the batch, key 3 arrives
    // unchanged, key 4 is new; key 5 is pre-existing closed history
    val dim = scdDim(Seq(
      (1, "a", "2024-01-01", scdEnd, true),
      (2, "b", "2024-01-01", scdEnd, true),
      (3, "c", "2024-01-01", scdEnd, true),
      (5, "old", "2023-01-01", "2024-01-01", false)))
    val batch = Seq((1, "a2"), (3, "c"), (4, "d")).toDF("key", "attr")
    assert(asRows(scd(dim, batch)) === Set(
      (1, "a", "2024-01-01", "2024-06-01", false),
      (1, "a2", "2024-06-01", scdEnd, true),
      (2, "b", "2024-01-01", scdEnd, true),
      (3, "c", "2024-01-01", scdEnd, true),
      (4, "d", "2024-06-01", scdEnd, true),
      (5, "old", "2023-01-01", "2024-01-01", false)))
  }

  test("scd2Merge is idempotent: replaying the same batch is a no-op") {
    val dim = scdDim(Seq(
      (1, "a", "2024-01-01", scdEnd, true),
      (2, "b", "2024-01-01", scdEnd, true)))
    val batch = Seq((1, "a2"), (3, "c")).toDF("key", "attr")
    val once = scd(dim, batch)
    assert(asRows(scd(once, batch)) === asRows(once))
  }

  test("scd2Merge null-safe compare: null attr vs null attr does not re-open") {
    val dim = scdDim(Seq((1, null, "2024-01-01", scdEnd, true)))
    val batch = Seq((1, Option.empty[String])).toDF("key", "attr")
    val out = scd(dim, batch)
    assert(out.count() === 1)
    assert(out.filter(col("is_current")).count() === 1)
  }

  test("scd2Merge keeps exactly one open row per key") {
    for (data <- samples(6) if data.nonEmpty) {
      val dim = scdDim(data.map { case (k, _, p) => (k, p, "2024-01-01", scdEnd, true) }
        .distinctBy(_._1))
      val batch = data.map { case (k, v, p) => (k, p + v) }.distinctBy(_._1)
        .toDF("key", "attr")
      val out = scd(dim, batch)
      val open = out.filter(col("is_current")).select("key")
        .as[Int].collect().toSeq
      assert(open.distinct.size === open.size)
      val allKeys = (data.map(_._1) ++ data.map(_._1)).distinct.toSet
      assert(open.toSet === allKeys)
    }
  }

  test("applyChangelog: latest op wins, D deletes, new keys insert, rest survive") {
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val changes = Seq(
      (1L, 10L, "U", "a2"), (1L, 11L, "U", "a3"),  // latest U wins -> a3
      (2L, 20L, "U", "x"), (2L, 21L, "D", "-"),    // later D deletes
      (5L, 30L, "I", "e"),                         // brand-new key inserts
      (6L, 40L, "D", "-")                          // delete of unseen key: no-op
    ).map { case (k, seq, op, v) => (k, v, seq, op) }.toDF("k", "v", "seq", "op")
    val out = graft.write.Writers
      .applyChangelog(snapshot, changes, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a3", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("applyChangelog: replaying an extended changelog is idempotent-by-construction") {
    val snapshot = Seq((1L, "a")).toDF("k", "v")
    val prefix = Seq((1L, 1L, "U", "b")).map { case (k, s2, op, v) => (k, v, s2, op) }
      .toDF("k", "v", "seq", "op")
    val full = prefix.unionByName(
      Seq((1L, "c", 2L, "U")).toDF("k", "v", "seq", "op"))
    val step1 = graft.write.Writers.applyChangelog(snapshot, prefix, Seq("k"), "seq", "op")
    val viaSteps = graft.write.Writers.applyChangelog(step1, full, Seq("k"), "seq", "op")
    val direct = graft.write.Writers.applyChangelog(snapshot, full, Seq("k"), "seq", "op")
    assert(viaSteps.as[(Long, String)].collect().toMap ===
      direct.as[(Long, String)].collect().toMap)
  }

  test("applyChangelog: duplicate sequence numbers for a key are an error") {
    val snapshot = Seq((1L, "a")).toDF("k", "v")
    val dup = Seq((1L, "b", 5L, "U"), (1L, "c", 5L, "U")).toDF("k", "v", "seq", "op")
    val e = intercept[Exception] {
      graft.write.Writers.applyChangelog(snapshot, dup, Seq("k"), "seq", "op").collect()
    }
    assert(e.getMessage.contains("applyChangelog") ||
      Option(e.getCause).exists(_.getMessage.contains("applyChangelog")))
  }

  test("applyChangelog: duplicate seq at a NON-winning position is also an error") {
    // the tie (seq=5) is shadowed by a later seq=9 winner — validation is
    // global over the changelog, not just at each key's max seq
    val snapshot = Seq((1L, "a")).toDF("k", "v")
    val dup = Seq((1L, "b", 5L, "U"), (1L, "c", 5L, "U"), (1L, "d", 9L, "U"))
      .toDF("k", "v", "seq", "op")
    val e = intercept[Exception] {
      graft.write.Writers.applyChangelog(snapshot, dup, Seq("k"), "seq", "op").collect()
    }
    assert(e.getMessage.contains("applyChangelog") ||
      Option(e.getCause).exists(_.getMessage.contains("applyChangelog")))
  }

  // --- retention vacuum -----------------------------------------------

  private def chainFixture(): (VersionedTable, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-vacuum").toString
    val t = new VersionedTable(spark, s"$root/t")
    val base = (0 until 16).map(i => (i.toLong, i % 4, i * 10L)).toDF("id", "p", "m")
    t.promote(t.stage(base, Seq("p")))
    Seq(1 -> 100L, 2 -> 200L, 3 -> 300L).foreach { case (part, delta) =>
      t.promote(t.stagePatch(
        base.filter(col("p") === part).withColumn("m", col("m") + delta)))
    }
    (t, s"$root/t")
  }

  test("vacuum keeps retained chain reads byte-identical, drops only unreachable units") {
    val (t, root) = chainFixture()
    def snap(v: Int) = t.readVersion(v).as[(Long, Long, Int)].collect().toSet
    val (v2, v3) = (snap(2), snap(3))
    val (removedVersions, removedUnits) = t.vacuum(keep = 2)
    // v0 loses p=1,p=2 (superseded in every retained view); keeps p=0,p=3
    // (v2 still reads p=3 from v0); v1 keeps its only unit p=1
    assert(removedVersions.isEmpty) // both expired dirs still hold reachable units
    assert(removedUnits === 2L)
    val p = java.nio.file.Paths.get(root)
    assert(!java.nio.file.Files.exists(p.resolve("v0/p=1")))
    assert(!java.nio.file.Files.exists(p.resolve("v0/p=2")))
    assert(java.nio.file.Files.exists(p.resolve("v0/p=0")))
    assert(java.nio.file.Files.exists(p.resolve("v0/p=3")))
    assert(java.nio.file.Files.exists(p.resolve("v1/p=1")))
    assert(snap(2) === v2 && snap(3) === v3)
    assert(t.read().as[(Long, Long, Int)].collect().toSet === v3)
  }

  test("vacuum fails expired reads closed, including partially-surviving dirs") {
    val (t, _) = chainFixture()
    t.vacuum(keep = 2)
    // v0's dir survives (holds reachable units) — the marker must still
    // block its own read, or it would silently serve 2 of 4 partitions
    intercept[IllegalArgumentException](t.readVersion(0))
    intercept[IllegalArgumentException](t.readVersion(1))
  }

  test("vacuum is idempotent and the chain keeps writing afterwards") {
    val (t, _) = chainFixture()
    t.vacuum(keep = 2)
    assert(t.vacuum(keep = 2) === ((Seq.empty[Int], 0L)))
    val extra = Seq((99L, 0, 999L)).toDF("id", "p", "m")
    t.promote(t.stagePatch(extra))
    assert(t.read().filter(col("p") === 0).count() === 1)
    assert(t.chainDepth >= 2)
  }

  test("vacuum removes fully-unreferenced whole-directory versions outright") {
    val root = java.nio.file.Files.createTempDirectory("graft-vacuum2").toString
    val t = new VersionedTable(spark, s"$root/t")
    (0 until 3).foreach(i => t.fullRefresh(Seq((i.toLong, i.toLong)).toDF("id", "m")))
    val (removedVersions, _) = t.vacuum(keep = 1)
    assert(removedVersions === Seq(0, 1))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t/v0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t/v1")))
    assert(t.read().as[(Long, Long)].collect().toSeq === Seq((2L, 2L)))
  }
}

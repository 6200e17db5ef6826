package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PedReader
import graft.sources.PedReader.Trio

/** PLINK `.ped`/`.fam` pedigree reader: hand-built files, the
  * complete-trio extraction rule (both parents named AND present),
  * the loud-failure surface, and the done-criterion — a trio driven
  * FROM the planted file phases identically to the explicit-column
  * call (with and without the PL arm).
  */
class PedReaderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writePed(text: String): String = {
    val f = TempDirs.create("graft-ped").resolve("ped.fam")
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  test("readPed parses FID IID PAT MAT SEX PHENO (0 = missing " +
      "parent), trios() keeps only children whose BOTH parents are " +
      "individuals of the same family, in child file order") {
    val ped = writePed(
      "# a comment tools sometimes prepend\n" +
      "fam1 f 0 0 1 -9\n" +
      "fam1 m 0 0 2 -9\n" +
      "fam1 c f m 1 2\n" +
      "fam1 c2 f ghost 2 1\n" +     // mother not in file -> no trio
      "fam2 kid dad 0 1 -9\n" +     // no mother named -> no trio
      "fam2 dad 0 0 1 -9\n" +
      // same IIDs in another family must not cross-link
      "fam3 c f m 1 2\n")
    val df = PedReader.readPed(spark, ped)
    assert(df.columns.toSeq === Seq("family_id", "sample_id",
      "father_id", "mother_id", "sex", "phenotype"))
    assert(df.count() === 7)
    assert(df.filter("father_id IS NULL").count() === 3) // f, m, dad
    assert(df.filter("mother_id IS NULL").count() === 4) // + fam2 kid
    val t = PedReader.trios(spark, ped)
    assert(t === Seq(Trio("c", "m", "f")))
  }

  test("malformed pedigrees fail loudly: short lines, bad SEX, " +
      "duplicate individuals, self-parenting, sex-inconsistent " +
      "parent roles") {
    def bad(text: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        PedReader.trios(spark, writePed(text))
      }
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    bad("fam1 c f\n", ">= 6 fields")
    bad("fam1 c 0 0 7 -9\n", "SEX")
    bad("fam1 c 0 0 1 -9\nfam1 c 0 0 1 -9\n", "duplicate")
    bad("fam1 c c 0 1 -9\n", "own parent")
    bad("fam1 f 0 0 2 -9\nfam1 m 0 0 2 -9\nfam1 c f m 1 2\n",
      "SEX 2") // named father carries SEX female
    bad("fam1 f 0 0 1 -9\nfam1 m 0 0 1 -9\nfam1 c f m 1 2\n",
      "SEX 1") // named mother carries SEX male
  }

  test("a trio read FROM the planted .ped drives phaseByTransmission " +
      "identically to the explicit-column call — hard-call arm and " +
      "the PL arm both (the r16 verdict's done criterion)") {
    val ped = writePed(
      "fam1 f 0 0 1 -9\nfam1 m 0 0 2 -9\nfam1 c f m 1 2\n")
    val Seq(trio) = PedReader.trios(spark, ped).toList match {
      case one :: Nil => Seq(one)
      case other => fail(s"expected one trio, got $other")
    }
    def r(pos: Int, sid: String, gt: String, pl: String) = {
      val parts = gt.split("[/|]")
      ("1", pos, "A", "T", sid, gt, parts(0),
        if (parts.length > 1) parts(1) else null, 0, pl)
    }
    val ann = Seq(
      r(1, "c", "0/1", null), r(1, "m", "1/1", null),
      r(1, "f", "0/0", null),
      // double-het: hard-call ambiguous, PL re-calls mother hom-ref
      r(2, "c", "0/1", "40,0,40"), r(2, "m", "0/1", "0,60,90"),
      r(2, "f", "0/1", "50,0,50"),
      r(3, "c", "0/1", null), r(3, "m", "0/1", null),
      r(3, "f", "0/1", null))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "gt", "gt1",
        "gt2", "multiallele", "pl")
    import graft.operators.VariantQc
    val explicitHard = VariantQc.phaseByTransmission(ann, "c", "m", "f")
      .select("pos", "phased_gt", "phase_status")
      .as[(Int, String, String)].collect().toSet
    val viaPedHard = VariantQc.phaseByTransmission(ann,
      trio.child, trio.mother, trio.father)
      .select("pos", "phased_gt", "phase_status")
      .as[(Int, String, String)].collect().toSet
    assert(viaPedHard === explicitHard)
    val explicitPl = VariantQc.phaseByTransmission(ann, "c", "m", "f",
      plCol = "pl")
      .select("pos", "phased_gt", "phase_status")
      .as[(Int, String, String)].collect().toSet
    val viaPedPl = VariantQc.phaseByTransmission(ann,
      trio.child, trio.mother, trio.father, plCol = "pl")
      .select("pos", "phased_gt", "phase_status")
      .as[(Int, String, String)].collect().toSet
    assert(viaPedPl === explicitPl)
    // the fixtures are informative: the two arms must differ at pos 2
    assert(explicitHard.exists(r => r._1 == 2 && r._3 == "ambiguous"))
    assert(explicitPl.exists(r => r._1 == 2 && r._3 == "phased_pl"))
  }

  test("phaseTrios: a whole pedigree phases in ONE pass identically " +
      "to per-trio phaseByTransmission union (both arms), a shared " +
      "parent tags into both trios, and a parent-only site emits no " +
      "trio row — the single-trio contract") {
    import graft.operators.VariantQc
    // two families sharing the father f: trios (c1, m1, f), (c2, m2, f)
    val ped = writePed(
      "fam1 f 0 0 1 -9\nfam1 m1 0 0 2 -9\nfam1 c1 f m1 1 2\n" +
        "fam1 m2 0 0 2 -9\nfam1 c2 f m2 2 2\n")
    val trios = PedReader.trios(spark, ped)
      .map(t => (t.child, t.mother, t.father))
    assert(trios === Seq(("c1", "m1", "f"), ("c2", "m2", "f")))
    def r(pos: Int, sid: String, gt: String, pl: String) = {
      val parts = gt.split("[/|]")
      ("1", pos, "A", "T", sid, gt, parts(0),
        if (parts.length > 1) parts(1) else null, 0, pl)
    }
    val ann = Seq(
      // pos 1: informative in fam1, double-het in fam2
      r(1, "c1", "0/1", null), r(1, "m1", "1/1", null),
      r(1, "f", "0/0", null),
      r(1, "c2", "0/1", "40,0,40"), r(1, "m2", "0/1", "0,60,90"),
      // pos 2: PARENT-ONLY site (no child rows) -> zero trio rows
      r(2, "f", "0/1", null), r(2, "m1", "0/0", null),
      // pos 3: c2 only, father missing that site
      r(3, "c2", "1/1", null), r(3, "m2", "1/1", null))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "gt", "gt1",
        "gt2", "multiallele", "pl")
    for (plCol <- Seq(null, "pl")) {
      val one = VariantQc.phaseTrios(ann, trios, plCol = plCol)
        .select("chrom", "pos", "child_id", "gt", "phased_gt",
          "phase_status")
        .as[(String, Int, String, String, Option[String], String)]
        .collect().toSet
      val union = trios.map { case (c, m, f) =>
        VariantQc.phaseByTransmission(ann, c, m, f, plCol = plCol)
          .withColumn("child_id", org.apache.spark.sql.functions.lit(c))
          .select("chrom", "pos", "child_id", "gt", "phased_gt",
            "phase_status")
          .as[(String, Int, String, String, Option[String], String)]
          .collect().toSet
      }.reduce(_ ++ _)
      assert(one === union, s"plCol=$plCol")
      assert(!one.exists(_._2 == 2), "parent-only site leaked a row")
      assert(one.exists(r => r._2 == 3 && r._3 == "c2"))
    }
  }
}

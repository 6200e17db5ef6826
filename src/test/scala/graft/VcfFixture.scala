package graft

import java.nio.file.{Files, Path}

/** Hand-written mini VCF covering the tricky shapes: chr-prefixed CHROM,
  * multiallelic ALT, missing ALT, indels, phased/unphased, haploid,
  * half- and fully-missing calls, heterogeneous FORMAT per row.
  */
object VcfFixture {
  val content: String = Seq(
    "##fileformat=VCFv4.2",
    "##source=graft-test",
    "##INFO=<ID=NS,Number=1,Type=Integer,Description=\"n samples\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"allele freq, per alt\">",
    "##INFO=<ID=VALIDATED,Number=0,Type=Flag,Description=\"validated call\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"read depth\">",
    "##FORMAT=<ID=AD,Number=2,Type=Integer,Description=\"allele depths\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2",
    "chr1\t100\trs1\tA\tG\t50\tPASS\tNS=2;DP=10\tGT:DP:AD\t0/1:12:3,9\t1|1:8:0,8",
    "1\t200\trs2\tAC\tA\t99\tPASS\tNS=2\tGT\t0/1\t./.",
    "2\t300\trs3\tT\tTTG\t10\tq10\tNS=1\tGT:DP\t1/1:7\t0/0:9",
    "2\t400\trs4\tG\tA,C\t30\tPASS\tNS=2;AF=0.5,0.25;VALIDATED\tGT\t1/2\t2|2",
    "3\t500\trs5\tTTC\tTAG\t30\tPASS\tNS=1\tGT\t0|1\t./1",
    "M\t600\trs6\tC\t.\t30\tPASS\tNS=0\tGT\t0\t1",
    "X\t700\trs7\tG\tA\t30\tPASS\tNS=1\tGT\t1\t0"
  ).mkString("", "\n", "\n")

  /** Write the fixture to a temp .vcf and return its path. */
  def write(): Path = {
    val p = TempDirs.create("graft-fixture").resolve("fixture.vcf")
    Files.writeString(p, content)
    p
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** COORDINATE LIFTOVER between genome assemblies — the
  * `bcftools +liftover` / Picard LiftoverVcf operation (every cohort
  * that mixes GRCh37 and GRCh38 resources runs it): map each
  * variant's (chrom, pos) through a CHAIN of alignment blocks — the
  * UCSC chain-file model, here a plain DataFrame so the chain lands
  * as parquet and is indexed like any dimension — rewriting position
  * and, on minus-strand blocks, REVERSE-COMPLEMENTING the alleles.
  *
  * Chain schema (one row per ungapped alignment block):
  * `(chrom, start, end, dst_chrom, dst_start, strand)` — a source
  * position p in the CLOSED [start, end] maps to
  * `dst_start + (p − start)` on `+` blocks and
  * `dst_start + (end − p)` on `−` blocks (the block's target runs
  * reverse, so the offset mirrors — the UCSC convention after
  * flattening a chain's gap structure into per-block rows).
  *
  * Semantics:
  *  - a variant covered by NO block emits ONE row with
  *    `lift_status = 'unmapped'` and NULL lifted columns (never
  *    silently dropped — the unmapped set is the QC deliverable);
  *  - a covered variant emits one row PER covering block (UCSC main
  *    chains are disjoint on the source, so normally exactly one;
  *    overlapping patch/alt chains surface as explicit multi-maps for
  *    the caller to arbitrate — dropping all but one silently would
  *    hide the ambiguity);
  *  - minus-strand blocks reverse-complement REF and each
  *    comma-separated ALT (`lift_status = 'flipped'`); allele tokens
  *    that are not pure ACGT (symbolic `<DEL>`, breakends, `.`, `*`)
  *    ride VERBATIM — reverse-complementing a symbolic allele would
  *    corrupt it, and flagging beats mangling.
  *
  * Shape: the chain is dimension-sized, so it is collected into an
  * [[graft.expressions.IntervalIndex]] when the operator is called and
  * each variant probes it (`inline_outer` of `interval_hits`) in one
  * narrow compiled stage — no join, and the variant stream never
  * shuffles. The outer probe keeps unmapped rows without a second pass.
  * One narrow projection computes position arithmetic + the allele
  * flip.
  */
object Liftover {

  /** Parse a UCSC CHAIN FILE (genome.ucsc.edu/goldenPath/help/chain
    * .html — the format GRCh37→38 chains actually ship in) into the
    * per-block frame [[liftover]] consumes. Each `chain` header
    * (`chain score tName tSize tStrand tStart tEnd qName qSize
    * qStrand qStart qEnd id`) is followed by alignment lines
    * `size [dt dq]` walking cursors down both sequences; every `size`
    * run is ONE ungapped block. Coordinates in the file are 0-based
    * half-open, and a `-` query strand counts from the QUERY'S END —
    * both are converted here to this engine's 1-based CLOSED source
    * span + first-mapped-base `dst_start` convention, so
    * `dst_start + (end − p)` on `-` blocks lands on the forward
    * strand exactly as liftOver does (derivation in the source).
    * `tStrand` is always `+` per the spec (violations fail loudly).
    *
    * The file is read DRIVER-side: a chain file is dimension-sized
    * (tens of MB for a whole-genome lift — the same rows [[liftover]]
    * indexes), and block lines are meaningless outside their
    * header's cursor state, so a distributed line parse would need a
    * whole-file shuffle anyway. Comment (`#`) and blank lines skipped.
    */
  def readChain(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    val blocks = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Int, String, Int, String)]
    try {
      var line = in.readLine()
      // current chain cursor state
      var tName: String = null; var qName: String = null
      var qSize = 0L; var qStrand = "+"
      var tCur = 0L; var qCur = 0L
      var tEnd = 0L; var qEnd = 0L
      var open = false
      var lineNo = 0
      // fail-loudly convention: a truncated file or a >2^31 coordinate
      // must never parse silently into wrong/negative spans, so every
      // narrowed coordinate is range-checked and each chain's cursor
      // walk must land exactly on the header's tEnd/qEnd
      def toIntChecked(v: Long, what: String): Int = {
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"$path:$lineNo: $what $v exceeds Int range")
        v.toInt
      }
      while (line != null) {
        lineNo += 1
        val t = line.trim
        if (t.isEmpty || t.startsWith("#")) ()
        else if (t.startsWith("chain")) {
          require(!open,
            s"$path:$lineNo: new chain header before the previous " +
              "chain's terminal line (truncated chain)")
          val f = t.split("\\s+")
          require(f.length >= 12,
            s"$path:$lineNo: malformed chain header '$t'")
          require(f(4) == "+",
            s"$path:$lineNo: tStrand must be '+' per the chain spec")
          tName = f(2); tCur = f(5).toLong; tEnd = f(6).toLong
          qName = f(7); qSize = f(8).toLong; qStrand = f(9)
          qCur = f(10).toLong; qEnd = f(11).toLong
          require(qStrand == "+" || qStrand == "-",
            s"$path:$lineNo: bad qStrand '${f(9)}'")
          require(tCur >= 0 && tCur <= tEnd,
            s"$path:$lineNo: tStart $tCur outside [0, tEnd=$tEnd]")
          require(qCur >= 0 && qCur <= qEnd && qEnd <= qSize,
            s"$path:$lineNo: qStart/qEnd ($qCur, $qEnd) outside " +
              s"[0, qSize=$qSize]")
          open = true
        } else {
          require(open, s"$path:$lineNo: alignment line outside a chain")
          val f = t.split("\\s+")
          val size = f(0).toLong
          require(size > 0, s"$path:$lineNo: zero-size block")
          // 0-based half-open → 1-based closed source span; dst_start
          // = the forward-strand position of the block base that my
          // '+'/'−' formulas anchor on (see scaladoc derivation)
          val start1 = tCur + 1L
          val end1 = tCur + size
          val dstStart =
            if (qStrand == "+") qCur + 1L
            else qSize - qCur - size + 1L
          blocks += ((tName, toIntChecked(start1, "block start"),
            toIntChecked(end1, "block end"), qName,
            toIntChecked(dstStart, "dst_start"), qStrand))
          if (f.length >= 3) {
            tCur += size + f(1).toLong
            qCur += size + f(2).toLong
            require(tCur <= tEnd && qCur <= qEnd,
              s"$path:$lineNo: cursor walk overruns header span " +
                s"(tCur=$tCur/tEnd=$tEnd, qCur=$qCur/qEnd=$qEnd)")
          } else {
            require(f.length == 1,
              s"$path:$lineNo: alignment line needs 1 or 3 fields")
            tCur += size; qCur += size
            require(tCur == tEnd && qCur == qEnd,
              s"$path:$lineNo: chain terminal does not land on header " +
                s"span (tCur=$tCur/tEnd=$tEnd, qCur=$qCur/qEnd=$qEnd)")
            open = false // terminal line closes the chain
          }
        }
        line = in.readLine()
      }
      require(!open,
        s"$path: EOF inside an open chain (missing terminal line — " +
          "truncated file)")
    } finally in.close()
    import spark.implicits._
    blocks.toSeq
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
  }

  private def revcomp(c: Column): Column =
    reverse(translate(c, "ACGTacgt", "TGCAtgca"))

  /** Reverse-complement a single allele token when it is pure ACGT;
    * symbolic/missing tokens ride verbatim. */
  private def flipAllele(c: Column): Column =
    when(c.rlike("^[ACGTacgt]+$"), revcomp(c)).otherwise(c)

  def liftover(
      vcf: DataFrame, chain: DataFrame,
      chromCol: String = "chrom", posCol: String = "pos",
      refCol: String = "ref", altCol: String = "alt",
      dstGenome: Map[String, String] = Map.empty,
      gtCols: Seq[String] = Nil): DataFrame =
    liftoverImpl(vcf, chain, chromCol, posCol, refCol, altCol,
      if (dstGenome.isEmpty) null
      else graft.expressions.Genome.inline(dstGenome), gtCols)

  /** [[liftover]] validating against a [[graft.expressions.Genome]]
    * HANDLE — the whole-genome path ([[graft.sources.FastaReader
    * .readGenome]]'s broadcast ships the destination assembly once per
    * executor; the `Map` overload closure-ships a small partial map). */
  def liftover(vcf: DataFrame, chain: DataFrame,
      dstGenome: graft.expressions.Genome,
      gtCols: Seq[String]): DataFrame =
    liftoverImpl(vcf, chain, "chrom", "pos", "ref", "alt",
      dstGenome, gtCols)

  private def liftoverImpl(
      vcf: DataFrame, chain: DataFrame,
      chromCol: String, posCol: String,
      refCol: String, altCol: String,
      dstGenome: graft.expressions.Genome,
      gtCols: Seq[String]): DataFrame = {
    val ix = graft.expressions.IntervalIndex.collect(
      chain.select(col("chrom"), col("start").as("__s"), col("end").as("__e"),
        col("dst_chrom"), col("dst_start"), col("strand")),
      "chrom", "__s", "__e", "Liftover.liftover", "chain")
    val joined = vcf.select(col("*"), inline_outer(graft.expressions.IntervalExprs
      .hits(col(chromCol), col(posCol), col(posCol), ix)))
    val minus = col("strand") === "-"
    val liftedPos = when(minus, col("dst_start") + (col("__e") - col(posCol)))
      .otherwise(col("dst_start") + (col(posCol) - col("__s")))
    val lifted = joined
      .withColumn("lift_status",
        when(col("__s").isNull, "unmapped")
          .when(minus, "flipped")
          .otherwise("lifted"))
      .withColumn("lifted_chrom", col("dst_chrom"))
      .withColumn("lifted_pos",
        when(col("__s").isNotNull, liftedPos.cast("int")))
      .withColumn("lifted_ref",
        when(col("__s").isNull, lit(null).cast("string"))
          .when(minus, flipAllele(col(refCol)))
          .otherwise(col(refCol)))
      .withColumn("lifted_alt",
        when(col("__s").isNull, lit(null).cast("string"))
          .when(minus, graft.expressions.GenomeExprs.altFlip(col(altCol)))
          .otherwise(col(altCol)))
      .drop("__s", "__e", "dst_chrom", "dst_start", "strand")
    if (dstGenome == null) lifted
    else validateRef(lifted, dstGenome, gtCols)
  }

  /** Destination-REF VALIDATION + REF⇄ALT SWAP — the Picard
    * LiftoverVcf / `bcftools +liftover` post-step that catches the most
    * common real artifact of a GRCh37→38 lift: the target assembly was
    * PATCHED to carry the ALT allele, so the lifted REF no longer
    * matches the destination genome. Per mapped row, the destination
    * bases at `[lifted_pos, lifted_pos + len(lifted_ref))` are fetched
    * through the codegen'd genome object ([[graft.expressions
    * .GenomeExprs.genomeSlice]] — the LeftAlignExpr pattern, zero
    * shuffle):
    *  - match → status unchanged (`lifted`/`flipped`);
    *  - the destination carries one of the ALTs → REF and that ALT are
    *    EXCHANGED and every `gtCols` call string has its GT allele
    *    indices 0⇄k remapped ([[graft.expressions.GenomeExprs
    *    .gtSwap]] — Picard's genotype flip), status `swap` (or
    *    `flipped_swap` after a minus-strand block);
    *  - neither → `ref_mismatch`, lifted columns kept for the reject
    *    file (Picard's MismatchedRefAllele class);
    *  - contig absent from the (possibly partial) genome map or slice
    *    off the contig end → unvalidated, status kept — a partial
    *    reference under-validates, it never mis-flags.
    * One narrow codegen'd projection; `unmapped` rows ride through.
    */
  private def validateRef(lifted: DataFrame,
      dstGenome: graft.expressions.Genome, gtCols: Seq[String]): DataFrame = {
    import graft.expressions.GenomeExprs
    val dstRef = GenomeExprs.genomeSlice(dstGenome, col("lifted_chrom"),
      col("lifted_pos").cast("long"), length(col("lifted_ref")).cast("int"))
    val alts = split(col("lifted_alt"), ",")
    // 1-based ALT index carried by the destination genome; 0 = none
    val k = coalesce(array_position(alts, col("__dst_ref")).cast("int"),
      lit(0))
    val swapped = col("__k") > 0
    val base = lifted
      .withColumn("__dst_ref", dstRef)
      .withColumn("__k",
        when(col("lift_status") =!= "unmapped" &&
          col("__dst_ref").isNotNull &&
          col("__dst_ref") =!= col("lifted_ref"), k).otherwise(lit(0)))
    val validated = base
      .withColumn("lifted_alt",
        when(swapped, GenomeExprs.altSwap(col("lifted_alt"), col("__dst_ref"),
          col("lifted_ref")))
          .otherwise(col("lifted_alt")))
      .withColumn("lifted_ref",
        when(swapped, col("__dst_ref")).otherwise(col("lifted_ref")))
      .withColumn("lift_status",
        when(swapped,
          when(col("lift_status") === "flipped", "flipped_swap")
            .otherwise("swap"))
          .when(col("lift_status") =!= "unmapped" &&
            col("__dst_ref").isNotNull &&
            col("__dst_ref") =!= col("lifted_ref"), "ref_mismatch")
          .otherwise(col("lift_status")))
    gtCols.foldLeft(validated) { (df, g) =>
      df.withColumn(g, GenomeExprs.gtSwap(col(g), col("__k")))
    }.drop("__dst_ref", "__k")
  }
}

package graft

import org.apache.spark.sql.SparkSession

import graft.core.{AggConfig, Bounds}

/** CLI mirroring the reference's `ncagg [OPTIONS] DST [SRC]...`
  * (reference: /root/reference/ncagg/cli.py:152-227):
  *
  *   runMain graft.Cli DST SRC... [-u udim:ivar[:hz[:hz]]] [-b bounds]
  *                                 [-c udim:chunksize] [-t template.json]
  *                                 [-l LEVEL]
  *   runMain graft.Cli --generate_template sample.parquet
  *   runMain graft.Cli -v
  *
  * SRC granules may be parquet directories or raw `.nc` NetCDF files —
  * `.nc` sources are ingested first via [[graft.sources.NetCDFIngest]]
  * (so the reference's own `ncagg out.nc *.nc -u ...` invocation carries
  * over verbatim), and the default config comes from the NetCDF header.
  * A `.nc` DST writes one NetCDF product file: the aggregated frame goes
  * straight into [[graft.sources.NetCDFWrite.write]], no intermediate
  * parquet. A `.ncd` DST writes a DISTRIBUTED `.nc` granule-set
  * directory from the same frame (executor-side, one file per range
  * partition) instead of one driver-assembled file — the corpus-scale
  * output path. Any other DST is a parquet granule set.
  * `-b` accepts `min:max` (epoch micros) or `TYYYY[MM[DD[HH[MM]]]]`
  * bound specs with inferred end. With no `-t`, a default config is
  * derived from the first granule (reference Config.from_nc). With no
  * SRC positionals and a non-interactive stdin, sources are read from
  * stdin as a whitespace-separated list (reference cli.py:123-150).
  * `-l` sets the log level (cli.py:181-185); `-v` prints the version.
  * `--generate_template` prints the JSON config template derived from a
  * sample granule and exits (reference cli.py:103-117) — the printed JSON
  * feeds back in via `-t`.
  */
object Cli {
  val Version = "0.4.0"

  def main(args: Array[String]): Unit = {
    if (args.contains("-v") || args.contains("--version")) {
      println(s"graft, version $Version"); return
    }
    val spark = GraftSession()
    try run(spark, args) finally spark.stop()
  }

  /** Session-agnostic entry point (testable; `main` owns the session).
    * `stdinSrcs` injects the piped source list for tests; by default it is
    * read from System.in when no SRC positionals are given and stdin is
    * not a terminal. */
  def run(spark: SparkSession, args: Array[String],
      stdinSrcs: Option[String] = None): Map[String, String] = {
    if (args.contains("-v") || args.contains("--version"))
      return Map("version" -> Version)
    if (args.contains("--generate_template")) {
      // guard the arity, don't fall through: parseArgs would otherwise
      // treat the flag as the DST positional and run a full aggregation
      // into a directory literally named "--generate_template"
      require(args.length == 2 && args.head == "--generate_template",
        "usage: graft.Cli --generate_template SAMPLE_GRANULE")
      val json = AggConfig.toJson(
        if (args(1).endsWith(".nc"))
          graft.sources.NetCDF4.configFor(args(1)) // reference Config.from_nc
        else AggConfig.fromGranule(spark.read.parquet(args(1))))
      println(json)
      return Map("template" -> json)
    }
    val (opts, pos) = parseArgs(args.toList)
    // reference cli.py:181-185: -l sets the log level up front
    opts.get("l").foreach { lvl =>
      val ok = Set("DEBUG", "INFO", "WARN", "WARNING", "ERROR", "CRITICAL")
      require(ok(lvl.toUpperCase), s"invalid -l log level: $lvl")
      spark.sparkContext.setLogLevel(
        if (lvl.equalsIgnoreCase("WARNING")) "WARN"
        else if (lvl.equalsIgnoreCase("CRITICAL")) "FATAL"
        else lvl.toUpperCase)
    }
    require(pos.nonEmpty, "usage: graft.Cli DST SRC... [-u ...] [-b ...]")
    val dst = pos.head
    // reference cli.py:123-150: with no SRC arguments and a piped stdin,
    // the source list arrives on stdin whitespace-separated
    val srcs =
      if (pos.tail.nonEmpty) pos.tail
      else {
        val piped = stdinSrcs.orElse {
          if (System.console() == null)
            Some(new String(System.in.readAllBytes(), "UTF-8"))
          else None
        }
        piped.map(_.trim.split("\\s+").filter(_.nonEmpty).toList)
          .getOrElse(Nil)
      }
    require(srcs.nonEmpty, "No files provided as argument or via stdin.")

    // `.nc` sources run the reference's own input path: ingest the NetCDF
    // granules to parquet first (slot-sized decode tasks), then
    // aggregate the converted granule dirs — `ncagg out.nc *.nc -u ...`
    // becomes `graft.Cli out *.nc -u ...` verbatim
    val ncSrcs = srcs.count(_.endsWith(".nc"))
    require(ncSrcs == 0 || ncSrcs == srcs.size,
      "mixing .nc and parquet granules in one run is not supported")
    val granules =
      if (ncSrcs == 0) srcs
      else graft.sources.NetCDFIngest.convert(spark, srcs,
        s"$dst.__nc_ingest",
        // the -u option names the unlimited (record) dimension explicitly;
        // without it the per-granule heuristic (unlimited else largest)
        // decides
        recDim = opts.get("u").map(_.split(":")(0))).toList

    var config = opts.get("t") match {
      case Some(path) => AggConfig.fromJson(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
      case None if ncSrcs > 0 =>
        graft.sources.NetCDF4.configFor(srcs.head) // reference Config.from_nc
      case None => AggConfig.fromGranule(spark.read.parquet(srcs.head))
    }

    // -u udim:ivar[:hz[:hz]] (reference cli.py:194-202): the i-th cadence
    // maps to the i-th dimension of the index VARIABLE — a multidim index
    // var (e.g. time(record, sample)) takes one cadence per dimension
    opts.get("u").foreach { u =>
      val parts = u.split(":")
      require(parts.length >= 2, s"-u expects udim:ivar[:hz[:hz]], got: $u")
      val (udim, ivar) = (parts(0), parts(1))
      val cadences = parts.drop(2).map(_.toDouble).toSeq
      val ivarDims = config.vars
        .find(v => v.mapTo.getOrElse(v.name) == ivar || v.name == ivar)
        .map(_.dimensions).getOrElse(Seq(udim))
      require(cadences.length <= ivarDims.length,
        s"-u gave ${cadences.length} cadences but $ivar has " +
          s"${ivarDims.length} dimension(s)")
      val cadMap = ivarDims.zip(cadences).toMap
      val (lo, hi) = opts.get("b") match {
        case Some(b) =>
          val (l, h) = Bounds.parse(b); (Some(l), Some(h))
        case None => (None, None)
      }
      config = config.copy(dims = config.dims.map { d =>
        if (d.name == udim)
          d.copy(indexBy = Some(ivar), expectedCadence = cadMap,
            min = lo, max = hi)
        else d
      })
    }

    val chunkSize = opts.get("c").map(_.split(":")(1).toInt)
    val maxRecords = chunkSize.getOrElse(1 << 20)

    // a `.nc` DST produces an actual NetCDF output file (the reference's
    // product, aggregator.py:239-359) via the pure-JVM writer: the
    // aggregated frame goes straight into the writer, so the pipeline
    // runs once, inside the write; `-c udim:chunksize` becomes the file's
    // real HDF5 chunk extent (reference cli.py:207-218 →
    // aggregator.py:391-398). A `.ncd` DST is the DISTRIBUTED twin: a
    // directory of `.nc` granules written executor-side
    // (NetCDFWrite.writeGranules) — the path a corpus-sized output must
    // take, since one .nc file is single-writer by construction (the
    // single-file write streams its sorted rows through the driver in
    // bounded memory, but stays one writer). Any other DST is a parquet
    // granule set plus its attribute sidecar
    val agg = Aggregate.run(spark, granules, dst, config)
    val ncOpts = graft.sources.NetCDFWrite.NcOpts(chunkRows = chunkSize)
    if (dst.endsWith(".nc"))
      graft.sources.NetCDFWrite.write(agg.frame, dst, config, agg.attrs,
        ncOpts)
    else if (dst.endsWith(".ncd"))
      graft.sources.NetCDFWrite.writeGranules(agg.frame, dst, config,
        agg.attrs, maxRecordsPerFile = maxRecords, opts = ncOpts)
    else agg.writeParquet(maxRecords)
    agg.attrs.foreach { case (k, v) => println(s"$k = $v") }
    println(s"Finished: $dst")
    agg.attrs
  }

  private def parseArgs(args: List[String],
      opts: Map[String, String] = Map.empty,
      pos: List[String] = Nil): (Map[String, String], List[String]) =
    args match {
      case flag :: v :: rest if flag.startsWith("-") && flag.length == 2 =>
        parseArgs(rest, opts + (flag.drop(1) -> v), pos)
      case p :: rest => parseArgs(rest, opts, pos :+ p)
      case Nil => (opts, pos)
    }
}

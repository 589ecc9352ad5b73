package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Clouds, TestGraph}

/** Reference-parity CLI driver — the `spark-submit` face of the three
  * reference scripts, same flags, dispatched by which selector flag is
  * present (the reference ships three separate mains; their flag sets
  * are disjoint once `-f`/`-g` disambiguate):
  *
  *   - TAXON cloud (phageclouds_gdb.py:45-48):
  *     `graft.Cloud -t <taxon> [-d <dist=0.25>]`
  *   - FAMILY cloud (phageclouds_gdb_family.py:81-85):
  *     `graft.Cloud -f <family> -t <subfamily|genus> [-d <dist=0.15>]`
  *     (`-t` here picks the colouring rank, exactly the reference's
  *     overload; `subfamily` maps to the coarse lineage key)
  *   - HOST cloud (phageclouds_gdb_host.py:45-48):
  *     `graft.Cloud -g <host_genus> [-t <thres=0.25>] [--harsh]`
  *
  * Plus the engine-side knobs the reference gets from its environment:
  * `--data <sfDir>` (default `SPARK_GRAFT_SF_DIR`) and `--out <path>`
  * (default = the reference's artifact naming, e.g.
  * `Tequatrovirus_015_clouds`). Output is the node/edge viz JSON as
  * JSON-lines directories (`<out>/nodes`, `<out>/edges`) — the
  * distributed analogue of `pyvis_graph.save_graph` — and, for the
  * taxon mode, `--html <file>` additionally writes the self-contained
  * vis-network page ([[Clouds.exportCloudHtml]]). */
object Cloud {

  /** Parsed flag set (public so the smoke spec can construct one). */
  final case class Args(
      taxon: Option[String] = None, family: Option[String] = None,
      host: Option[String] = None, dist: Option[Double] = None,
      harsh: Boolean = false, data: Option[String] = None,
      out: Option[String] = None, html: Option[String] = None)

  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case ("-t" | "--tax" | "--thres") :: v :: rest =>
      // -t is the taxon in taxon mode, the colour rank in family mode,
      // and the threshold in host mode (the reference's own overload);
      // disambiguated after parsing, see `run`
      parse(rest, acc.copy(taxon = Some(v)))
    case ("-d" | "--dist") :: v :: rest =>
      parse(rest, acc.copy(dist = Some(v.toDouble)))
    case ("-f" | "--fam") :: v :: rest =>
      parse(rest, acc.copy(family = Some(v)))
    case ("-g" | "--genus") :: v :: rest =>
      parse(rest, acc.copy(host = Some(v)))
    case "--harsh" :: rest => parse(rest, acc.copy(harsh = true))
    case "--data" :: v :: rest => parse(rest, acc.copy(data = Some(v)))
    case "--out" :: v :: rest => parse(rest, acc.copy(out = Some(v)))
    case "--html" :: v :: rest => parse(rest, acc.copy(html = Some(v)))
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown argument: $other")
  }

  val usage: String =
    """usage: graft.Cloud -t <taxon> [-d <dist>] [--html <file>]
      |       graft.Cloud -f <family> -t <subfamily|genus> [-d <dist>]
      |       graft.Cloud -g <host_genus> [-t <thres>] [--harsh]
      |common: --data <sfDir> (default $SPARK_GRAFT_SF_DIR)
      |        --out <path>   (default: reference artifact naming)""".stripMargin

  /** The reference's `{name}_{"".join(str(dist).split("."))}` artifact
    * stem (gdb.py:120). */
  private def stem(name: String, dist: Double): String =
    s"${name}_${dist.toString.split('.').mkString}"

  /** Run the selected cloud export; returns the paths written. Factored
    * from [[main]] so the smoke spec drives it on the test session. */
  def run(spark: SparkSession, a: Args): Seq[String] = {
    val dir = a.data.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException(
        "no data dir: pass --data or set SPARK_GRAFT_SF_DIR"))
    // each mode builds its cloud's nodes and edges once and writes both
    // JSON directories (and the taxon page) from that build; family and
    // host nodes carry (phage, color, size, title), edges the pyvis attrs
    def writeCloud(plan: Clouds.CloudPlan, d: Double, out: String,
               color: Column, title: Column): Seq[String] =
      Clouds.buildOnce(plan) { (nodes, edges) =>
        Clouds.writeJson(
          nodes.select(col("phage"), color.as("color"),
            floor(col("genome_size") / TestGraph.SizeScaleFactor).cast("long").as("size"),
            title.as("title")),
          edges.select(Seq(col("src"), col("dst")) ++
            Clouds.edgeAttrs(lit(d) - col("distance") + lit(0.1)): _*), out)
      }
    (a.family, a.host) match {
      case (Some(fam), None) => // FAMILY mode
        val rank = a.taxon.getOrElse(throw new IllegalArgumentException(
          "family mode needs -t subfamily|genus\n" + usage)) match {
          case "subfamily" | "family" => "family" // coarse lineage key
          case "genus" => "genus"
          case other => throw new IllegalArgumentException(
            s"family-mode -t must be subfamily|genus, got '$other'")
        }
        val d = a.dist.getOrElse(0.15)
        val out = a.out.getOrElse(
          s"${stem(fam, d)}_${a.taxon.getOrElse(rank)}_clouds")
        // family.py:109 node title + the per-rank palette colouring
        writeCloud(Clouds.familyPlan(spark, dir, fam, d, rank), d, out, col("color"),
          concat(lit("Source: "), col("source"),
            lit("<br>Genome size: "), col("genome_size"),
            lit(s"<br>$rank: "), coalesce(col("target_taxon").cast("string"), lit("NA"))))
      case (None, Some(hg)) => // HOST mode
        val d = a.dist.orElse(a.taxon.map(_.toDouble)).getOrElse(0.25)
        val out = a.out.getOrElse(
          stem(hg, d) + (if (a.harsh) "_clouds_v2_harsh" else "_clouds_v2"))
        // host.py:66 hex palette by source + :73 node title
        val colorMap = Map(
          TestGraph.Ncbi -> "#8acb4a", TestGraph.Tara -> "#39dede",
          TestGraph.Gtdb -> "#f1e653", TestGraph.GpdIsolate -> "#9b4aed",
          TestGraph.GpdMetagenome -> "#c734df")
        val color = colorMap.foldLeft(lit("#ffffff")) {
          case (e, (s, c)) => when(col("source") === s, c).otherwise(e)
        }
        writeCloud(Clouds.hostPlan(spark, dir, a.harsh, hg, d), d, out, color,
          concat(lit("Target host genus: "),
            coalesce(col("host_genus").cast("string"), lit("NA")),
            lit("<br>Phage genus: "),
            coalesce(col("phage_genus").cast("string"), lit("NA")),
            lit("<br>Genome size: "), col("genome_size"), lit(" bp")))
      case (None, None) => // TAXON mode
        val tax = a.taxon.getOrElse(
          throw new IllegalArgumentException("no mode selected\n" + usage))
        val d = a.dist.getOrElse(0.25)
        Clouds.exportTaxon(spark, dir, a.out.getOrElse(s"${stem(tax, d)}_clouds"), tax, d, a.html)
      case _ => throw new IllegalArgumentException(
        "pass at most one of -f / -g\n" + usage)
    }
  }

  def parseArgs(argv: Seq[String]): Args = parse(argv.toList, Args())

  def main(argv: Array[String]): Unit = {
    if (argv.isEmpty) { System.err.println(usage); sys.exit(2) }
    val a = parseArgs(argv.toSeq)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val written = run(spark, a)
    written.foreach(p => println(s"[cloud] wrote $p"))
    spark.stop()
  }
}

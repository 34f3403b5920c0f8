package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator for the workloads. Every input is a
  * tab-separated text file written by plain JVM code before any timing
  * starts, so the same seed always yields byte-identical files; the
  * engine only ever sees what the workloads load from them.
  */
object Gen {

  /** Field separator and the null marker of the generated files. */
  val Null = "\\N"

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def write(f: File, lines: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def read(f: File): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
  }

  def opt(s: String): Option[String] = if (s == Null) None else Some(s)

  /** A rank in [0, n) with probability ∝ 1/(rank+1): a Zipf(1) skew
    * whose hottest keys are the lowest ids.
    */
  def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n.toDouble + 1))
      - 1).toInt)

  private val words = Array("alpha", "bravo", "delta", "gamma", "kilo",
    "lima", "omega", "sigma", "tango", "zulu")
  private val statuses = Array("new", "active", "suspended", "closed")

  // ------------------------------------------------------------------
  // stream_evolving_avro: files of change events over a small key
  // space, each tagged with its writer-schema version. Timed files
  // carry v1, then v2 (adds nullable `email`), then v3 (drops
  // `status`); one v4 file (adds NOT NULL `region`) must be
  // dead-lettered. Most files re-deliver a few events of the file
  // before. Line: version, key, event_id, ts_us, op, name, amount,
  // status, email, region (absent columns are \N).
  // ------------------------------------------------------------------

  final case class StreamSizes(keys: Int, fileEvents: Int, intervalMs: Int,
                               warmFiles: Int, timedFiles: Int,
                               readRounds: Int)

  val StreamColumns = Seq("name", "amount", "status", "email", "region")

  def streamVersionOf(z: StreamSizes, file: Int): Int = {
    val i = file - z.warmFiles
    if (i < 0) 1
    else if (i == z.timedFiles / 2 + 1) 4
    else if (i < z.timedFiles / 4) 1
    else if (i < z.timedFiles / 2) 2
    else 3
  }

  def streamHas(version: Int, column: String): Boolean = column match {
    case "status" => version <= 2
    case "email"  => version >= 2
    case "region" => version == 4
    case _        => true
  }

  def stream(dir: File, seed: Long, z: StreamSizes): Unit = {
    val r = rng(seed, 2)
    val t0 = 1700000000000000L
    var clock = 0L
    var eid = 0L
    var prev: Seq[String] = Nil
    (0 until z.warmFiles + z.timedFiles).foreach { f =>
      val v = streamVersionOf(z, f)
      val fresh = (0 until z.fileEvents).map { _ =>
        clock += 1000; eid += 1
        val k = f"k${zipf(r, z.keys)}%06d"
        val op = if (v != 4 && r.nextDouble() < 0.05) "d" else "u"
        val payload = StreamColumns.map { c =>
          if (op == "d" || !streamHas(v, c)) Null
          else c match {
            case "name"   => s"${words(r.nextInt(words.length))}-$k"
            case "amount" => r.nextInt(1000000).toString
            case "status" => statuses(r.nextInt(statuses.length))
            case "email"  => s"$k@example.org"
            case _        => s"region-${r.nextInt(8)}"
          }
        }
        (Seq(v.toString, k, eid.toString, (t0 + clock).toString, op) ++
          payload).mkString("\t")
      }
      // exact redeliveries of the previous file (never into or out of
      // the dead-lettered version)
      val redeliver =
        if (v == 4 || prev.isEmpty || !r.nextBoolean()) Nil
        else (0 until z.fileEvents / 25).map(_ => prev(r.nextInt(prev.size)))
      val all = fresh ++ redeliver
      write(new File(dir, f"file-$f%05d.tsv"), all)
      prev = if (v == 4) prev else fresh
    }
  }

  // ------------------------------------------------------------------
  // index_ingest_probe: documents over a small vocabulary with planted
  // near-duplicates (one token replaced), clustered vectors, and per
  // tick a document delta, a vector delta and one query shard of each.
  // Lines: docs "id\ttext", vectors "id\tx1,x2,...".
  // ------------------------------------------------------------------

  final case class IndexSizes(baseDocs: Int, baseVecs: Int, deltaDocs: Int,
                              deltaVecs: Int, queryDocs: Int,
                              queryVecs: Int, warmTicks: Int, ticks: Int,
                              dim: Int = 16, clusters: Int = 24)

  val QueryIdBase = 1000000000L

  def index(dir: File, seed: Long, z: IndexSizes): Unit = {
    val r = rng(seed, 3)
    val vocab = 4000
    def token(): String =
      if (r.nextDouble() < 0.2) s"t${r.nextInt(50)}"
      else s"w${r.nextInt(vocab)}"
    val docs = new ArrayBuffer[Array[String]]()
    def newDoc(): Array[String] =
      Array.fill(30 + r.nextInt(30))(token())
    def nearDup(): Array[String] = {
      val d = docs(r.nextInt(docs.size)).clone()
      d(r.nextInt(d.length)) = token()
      d
    }
    def makeDocs(n: Int, dupShare: Double): Seq[Array[String]] =
      (0 until n).map(_ =>
        if (docs.nonEmpty && r.nextDouble() < dupShare) nearDup()
        else newDoc())
    val centers = Array.fill(z.clusters, z.dim)(r.nextDouble() * 2 - 1)
    def vec(): String = {
      val c = centers(r.nextInt(z.clusters))
      c.map(x => String.format(Locale.ROOT, "%.6f",
        Double.box(x + r.nextGaussian() * 0.15))).mkString(",")
    }
    var nextDoc = 0L
    var nextVec = 0L
    var nextQuery = QueryIdBase
    def emitDocs(name: String, ds: Seq[Array[String]],
                 query: Boolean): Unit = {
      val lines = ds.map { d =>
        val id = if (query) { nextQuery += 1; nextQuery }
                 else { nextDoc += 1; nextDoc }
        s"$id\t${d.mkString(" ")}"
      }
      if (!query) docs ++= ds
      write(new File(dir, name), lines)
    }
    def emitVecs(name: String, n: Int, query: Boolean): Unit =
      write(new File(dir, name), (0 until n).map { _ =>
        val id = if (query) { nextQuery += 1; nextQuery }
                 else { nextVec += 1; nextVec }
        s"$id\t${vec()}"
      })
    emitDocs("base-docs.tsv", makeDocs(z.baseDocs, 0.1), query = false)
    emitVecs("base-vecs.tsv", z.baseVecs, query = false)
    (0 until z.ticks).foreach { t =>
      emitDocs(f"docs-$t%05d.tsv", makeDocs(z.deltaDocs, 0.2), query = false)
      emitVecs(f"vecs-$t%05d.tsv", z.deltaVecs, query = false)
      emitDocs(f"qdocs-$t%05d.tsv", makeDocs(z.queryDocs, 0.5), query = true)
      emitVecs(f"qvecs-$t%05d.tsv", z.queryVecs, query = true)
    }
  }
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Seeded input generators. Everything here depends only on the seed and
  * the constants below, so the same seed gives byte-identical chunk files
  * and the same corpus. The program under test sees only these inputs.
  */
object Gen {

  // ---------------------------------------------------------------- msgpack

  /** Minimal msgpack writer for the Fluent Bit forward shape: a chunk is a
    * concatenation of `[EventTime, record-map]` events. Written here rather
    * than borrowed from the program so the inputs do not move when the
    * program's own codec changes.
    */
  final class Msgpack {
    private val out = new ByteArrayOutputStream(1 << 16)
    def bytes: Array[Byte] = out.toByteArray
    private def u8(b: Int): Unit = out.write(b & 0xff)
    private def u16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    private def u32(v: Long): Unit = { u16((v >>> 16).toInt); u16(v.toInt) }
    def str(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      if (b.length < 32) u8(0xa0 | b.length)
      else if (b.length < 256) { u8(0xd9); u8(b.length) }
      else { u8(0xda); u16(b.length) }
      out.write(b, 0, b.length)
    }
    def long(v: Long): Unit =
      if (v >= 0 && v < 128) u8(v.toInt)
      else if (v >= 0 && v < 65536) { u8(0xcd); u16(v.toInt) }
      else if (v >= 0 && v <= 0xffffffffL) { u8(0xce); u32(v) }
      else { u8(0xd3); u32(v >>> 32); u32(v & 0xffffffffL) }
    def double(v: Double): Unit = {
      u8(0xcb)
      val bits = java.lang.Double.doubleToLongBits(v)
      u32(bits >>> 32); u32(bits & 0xffffffffL)
    }
    def arr(n: Int): Unit = if (n < 16) u8(0x90 | n) else { u8(0xdc); u16(n) }
    def map(n: Int): Unit = if (n < 16) u8(0x80 | n) else { u8(0xde); u16(n) }
    /** Fluent Bit EventTime: fixext8, type 0, seconds + nanoseconds. */
    def eventTime(micros: Long): Unit = {
      u8(0xd7); u8(0)
      u32(micros / 1000000L); u32((micros % 1000000L) * 1000L)
    }
    def value(v: Any): Unit = v match {
      case s: String => str(s)
      case l: Long => long(l)
      case i: Int => long(i.toLong)
      case d: Double => double(d)
      case m: Seq[(String, Any)] @unchecked =>
        map(m.size); m.foreach { case (k, x) => str(k); value(x) }
    }
  }

  // ---------------------------------------------------------------- logs

  val Days = 7
  val StartMicros: Long =
    java.time.Instant.parse("2026-01-05T00:00:00Z").toEpochMilli * 1000L
  val DayMicros: Long = 86400L * 1000000L
  val Clusters = Vector("prod-eu", "prod-us")
  val Namespaces: Vector[String] = Vector("checkout", "payments", "search",
    "catalog", "identity", "shipping", "ads", "reviews", "billing", "media")
  val AppsPerNs = 3
  val PodsPerApp = 4
  val Hosts: Vector[String] = Vector.tabulate(6)(i => s"node-$i")
  val Methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  val Paths = Vector("/api/cart", "/api/items", "/api/login", "/healthz",
    "/api/pay", "/api/search", "/static/app.js", "/api/profile")
  val Statuses = Vector(200, 200, 200, 200, 201, 204, 301, 404, 429, 500, 503)
  val Users = 400
  /** Tokens present in many files (~1% of lines each). */
  val CommonWords: Vector[String] =
    Vector.tabulate(40)(i => f"cachemiss$i%02d")
  /** Distinct tokens planted in exactly one chunk each. */
  val RareTokensPerChunk = 12
  /** Zipf exponent of namespace, app and pod popularity. */
  val Skew = 1.1

  def apps(ns: String): Vector[String] =
    Vector.tabulate(AppsPerNs)(i => s"$ns-${Seq("api", "worker", "web")(i)}")

  /** What the ingest check needs of one generated event: `seq` is its
    * unique id (`content.seq`), `bytes` the numeric field it sums.
    */
  final case class Rec(micros: Long, ns: String, app: String, bytes: Long, seq: Long) {
    def day: Int = ((micros - StartMicros) / DayMicros).toInt
    def date: String = java.time.LocalDate.of(2026, 1, 5).plusDays(day).toString
  }

  final case class Logs(chunks: Vector[Array[Byte]], recs: Vector[Rec], rareTokens: Vector[String])

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private def draw(cdf: Array[Double], r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Fluent Bit chunks covering [[Days]] days in time order: `chunksPerDay`
    * chunks of `recsPerChunk` events each. Record shape is the Kubernetes
    * filter's: a nested `kubernetes` map (labels nested once more) and a
    * nested `content` map mixing string and numeric keys; one numeric key
    * (`retry`) is present on only some records.
    */
  def logs(seed: Long, chunksPerDay: Int, recsPerChunk: Int): Logs = {
    val r = new java.util.Random(seed * 7919L + 17L)
    val nsCdf = zipfCdf(Namespaces.size, Skew)
    val appCdf = zipfCdf(AppsPerNs, Skew)
    val podCdf = zipfCdf(PodsPerApp, Skew)
    val recs = Vector.newBuilder[Rec]
    val chunks = Vector.newBuilder[Array[Byte]]
    val rare = Vector.newBuilder[String]
    val nChunks = Days * chunksPerDay
    val chunkMicros = DayMicros / chunksPerDay
    var seq = 0L
    for (c <- 0 until nChunks) {
      val tokens = Vector.tabulate(RareTokensPerChunk)(j =>
        f"inc${seed % 1000}%03dx$c%03dx$j%02d")
      rare ++= tokens
      val base = StartMicros + c * chunkMicros
      val offs = Array.fill(recsPerChunk)((r.nextDouble() * chunkMicros).toLong).sorted
      val mp = new Msgpack
      for (i <- 0 until recsPerChunk) {
        val ns = Namespaces(draw(nsCdf, r))
        val app = apps(ns)(draw(appCdf, r))
        val pod = s"$app-${(draw(podCdf, r) * 7919 + ns.length).toHexString}"
        val cluster = Clusters(r.nextInt(Clusters.size))
        val host = Hosts(r.nextInt(Hosts.size))
        val method = Methods(r.nextInt(Methods.size))
        val path = Paths(r.nextInt(Paths.size))
        val status = Statuses(r.nextInt(Statuses.size))
        val latency = math.rint(math.exp(3.0 + 1.1 * r.nextGaussian()) * 100) / 100
        val bytes = 200L + r.nextInt(20000)
        val user = s"u${r.nextInt(Users)}"
        val retry = if (r.nextInt(5) == 0) Some(1L + r.nextInt(3)) else None
        val extra =
          if (i % (recsPerChunk / RareTokensPerChunk) == 0)
            " " + tokens(i / (recsPerChunk / RareTokensPerChunk) % RareTokensPerChunk)
          else if (r.nextInt(100) < 40) " " + CommonWords(r.nextInt(CommonWords.size))
          else ""
        val req = java.lang.Long.toHexString(r.nextLong() & 0xffffffffffL)
        val log = s"$method $path $status ${latency}ms user=$user req=$req$extra"
        val micros = base + offs(i) / 1000 * 1000
        val rec = Rec(micros, ns, app, bytes, seq)
        recs += rec
        seq += 1
        val content = Seq[(String, Any)]("method" -> method, "path" -> path,
          "status" -> status.toLong, "latency_ms" -> latency, "bytes" -> bytes,
          "user" -> user, "seq" -> rec.seq) ++ retry.map("retry" -> _)
        mp.arr(2)
        mp.eventTime(micros)
        mp.value(Seq[(String, Any)](
          "log" -> log,
          "stream" -> (if (status >= 500) "stderr" else "stdout"),
          "cluster" -> cluster,
          "kubernetes" -> Seq[(String, Any)](
            "namespace_name" -> ns, "pod_name" -> pod,
            "container_name" -> app.split('-').last, "host" -> host,
            "labels" -> Seq[(String, Any)]("app" -> app, "tier" -> "backend")),
          "content" -> content))
      }
      chunks += mp.bytes
    }
    Logs(chunks.result(), recs.result(), rare.result())
  }

  /** Write chunk files `chunk-00000.msgpack ...` into `dir`. */
  def writeChunks(dir: java.io.File, chunks: Seq[Array[Byte]], from: Int = 0): Seq[java.io.File] = {
    dir.mkdirs()
    chunks.zipWithIndex.map { case (b, i) =>
      val f = new java.io.File(dir, f"chunk-${from + i}%05d.msgpack")
      java.nio.file.Files.write(f.toPath, b)
      f
    }
  }

  // ---------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String, score: Double)

  /** The corpus and what the checks need of its planted structure: the
    * compact groups and the source of each edited increment document.
    */
  final case class Corpus(
      docs: Vector[Doc], groups: Vector[Vector[Long]],
      vecs: Vector[(Long, Array[Double])], increments: Vector[Vector[Doc]],
      incSources: Map[Long, Long])

  val Vocab: Vector[String] = {
    val r = new java.util.Random(4242L)
    Vector.fill(8000) {
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }
  val DocWords = 60
  /** Word shift between consecutive chain links: adjacent links share
    * 50 of 58 word 3-shingles (Jaccard 0.76), links two apart 42 (0.57),
    * so with [[CorpusJaccard]] only adjacent links pair up and a chain of
    * length L is a component of diameter L - 1.
    */
  val ChainShift = 8
  /** Near-duplicate edits substitute exactly this many words: Jaccard to
    * the original is at least 52/64 = 0.81.
    */
  val EditWords = 2
  val CorpusJaccard = 0.65

  private def freshText(r: java.util.Random, words: Int): Vector[String] =
    Vector.fill(words)(Vocab(r.nextInt(Vocab.size)))

  private def edit(r: java.util.Random, w: Vector[String]): Vector[String] = {
    var out = w
    for (_ <- 0 until EditWords) out = out.updated(r.nextInt(w.size), Vocab(r.nextInt(Vocab.size)))
    out
  }

  /** A corpus of `n` documents: planted near-duplicate groups (a base
    * document and edits of it), chain-shaped groups (sliding windows over a
    * longer text, see [[ChainShift]]), unique documents, and `incs`
    * increments of `incSize` documents, half of them edits of corpus
    * documents. Every document carries a quality score and a
    * `dim`-dimensional embedding; members of a planted group lie close to
    * a shared centre, so their true nearest neighbours are each other.
    */
  def corpus(seed: Long, n: Int, groupSizes: Seq[Int], chainLens: Seq[Int],
      incs: Int, incSize: Int, dim: Int): Corpus = {
    val r = new java.util.Random(seed * 104729L + 3L)
    val docs = Vector.newBuilder[Doc]
    val centre = mutable.Map.empty[Long, Int] // doc id -> embedding centre
    var id = 0L
    var g = 0
    def add(w: Vector[String]): Long = {
      docs += Doc(id, w.mkString(" "), math.rint(r.nextDouble() * 1e6) / 1e6)
      centre(id) = g; id += 1; id - 1
    }
    val groups = groupSizes.toVector.map { size =>
      val base = freshText(r, DocWords)
      val ids = Vector.tabulate(size)(i => add(if (i == 0) base else edit(r, base)))
      g += 1
      ids
    }
    chainLens.foreach { len =>
      val text = freshText(r, DocWords + (len - 1) * ChainShift)
      (0 until len).foreach(i => add(text.slice(i * ChainShift, i * ChainShift + DocWords)))
      g += 1
    }
    val planted = id
    while (id < n) { add(freshText(r, DocWords)); g += 1 }
    val all = docs.result()
    val incSources = mutable.Map.empty[Long, Long] // edited increment doc -> its source
    val increments = Vector.fill(incs) {
      Vector.fill(incSize) {
        val w =
          if (r.nextBoolean()) {
            val src = all(r.nextInt(all.size))
            incSources(id) = src.id
            edit(r, src.text.split(' ').toVector)
          } else freshText(r, DocWords)
        id += 1
        Doc(id - 1, w.mkString(" "), math.rint(r.nextDouble() * 1e6) / 1e6)
      }
    }
    val centreVec = mutable.Map.empty[Int, Array[Double]]
    val vecs = all.map { d =>
      val c = centreVec.getOrElseUpdate(centre(d.id), Array.fill(dim)(r.nextGaussian()))
      val noise = if (d.id < planted) 0.05 else 0.0
      d.id -> c.map(x => math.rint((x + noise * r.nextGaussian()) * 1e4) / 1e4)
    }
    Corpus(all, groups, vecs, increments, incSources.toMap)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Zipf(s) over ranks 0 until n; rank 0 is the hottest. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded helpers shared by the generators. Every random choice of a run
  * flows from the `--seed` argument through these. */
object Gen {
  val olcChars = "23456789CFGHJMPQRVWX"

  def shuffled[T](xs: Seq[T], rng: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** `n` distinct 4-char OLC tile prefixes with valid first-pair digits
    * (latitude digit < 9, longitude digit < 18). */
  def tile4s(n: Int, rng: SplittableRandom): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      seen += new String(Array(olcChars(rng.nextInt(9)), olcChars(rng.nextInt(18)),
        olcChars(rng.nextInt(20)), olcChars(rng.nextInt(20))))
    }
    seen.toIndexedSeq
  }

  def day(d: Int): String = java.time.LocalDate.of(2021, 1, 1).plusDays(d.toLong).toString
}

// ---------------------------------------------------------------- places

final case class Source(id: Long, lat: Double, lon: Double, value: String,
                        name: Option[String], deleted: Option[String])

final case class Place(suffix: String, tileid: String, placetype: String,
                       sources: Seq[Source], images: Option[Map[String, Int]],
                       deleted: Option[String]) {
  def id: Seq[String] = Seq(tileid, suffix)
  def live: Boolean = deleted.isEmpty
  /** Every source tombstoned, so the main source (the first one) is too. */
  def mainDeleted: Boolean = sources.forall(_.deleted.isDefined)
}

final case class Edit(id: Seq[String], change: Map[String, String]) {
  def removes: Boolean = change.keys.exists(_.matches("^source\\.osm\\[\\d+\\]\\.deleted$"))
}

final case class Operation(blockId: Long, opOrd: Int, day: Int, opType: String,
                           created: Seq[Seq[String]], edited: Seq[Edit],
                           deleted: Seq[Seq[String]]) {
  def isPlaceOp: Boolean = opType == "opr.place"
  def elements: Int = created.size + edited.size + deleted.size
}

/** A request of the places-serving mix. Day arguments are offsets from
  * 2021-01-01; windows are inclusive-exclusive. */
sealed trait Request { def kind: String }
final case class GeoTile(tile: String) extends Request { def kind = "geoTile" }
final case class History(from: Int, to: Int) extends Request { def kind = "history" }
final case class SnapshotAt(asOf: Int) extends Request { def kind = "snapshotAt" }
final case class ReviewClosed(from: Int, to: Int) extends Request { def kind = "reviewClosedPlaces" }
case object Summary extends Request { def kind = "summary" }

/** Seeded places + op log in the `PlacesEngine` schema, with the answer of
  * every request computed from the generated values alone. */
final class PlacesData(seed: Long, nPlaces: Int = 3000, nTile4: Int = 16,
                       tilesPerT4: Int = 8, val days: Int = 30) {
  private val rng = new SplittableRandom(seed)
  private val types = Seq("cafe", "restaurant", "fast_food", "bar", "pub",
    "bank", "pharmacy", "bakery", "fuel", "school")

  /** 6-char tiles, hottest first. */
  val tiles: IndexedSeq[String] = Gen.shuffled(Gen.tile4s(nTile4, rng).flatMap { t4 =>
    Gen.tile4s(tilesPerT4, rng).map(t => t4 + t.take(2))
  }.distinct, rng)
  private val tileZipf = new Zipf(tiles.size, 0.9)

  val places: IndexedSeq[Place] = (0 until nPlaces).map { i =>
    val tile = tiles(tileZipf.sample(rng))
    val mainDeleted = rng.nextDouble() < 0.04
    val nSrc = 1 + rng.nextInt(3)
    val sources = (0 until nSrc).map { j =>
      val del =
        if (mainDeleted) Some("2021-02-01T00:00:00Z")
        else if (j < nSrc - 1 && rng.nextDouble() < 0.2) Some("2021-01-15T00:00:00Z")
        else None
      Source(i * 4L + j, math.rint(rng.nextDouble() * 1e6) / 1e6,
        math.rint(rng.nextDouble() * 1e6) / 1e6, types(rng.nextInt(types.size)),
        if (rng.nextDouble() < 0.8) Some(s"Place $i") else None, del)
    }
    val images =
      if (rng.nextDouble() < 0.3)
        Some((0 until 1 + rng.nextInt(2)).map(k => s"k$k" -> (1 + rng.nextInt(3))).toMap)
      else None
    Place(f"$i%06x", tile, types(rng.nextInt(types.size)), sources, images,
      if (rng.nextDouble() < 0.05) Some("2021-03-01T00:00:00Z") else None)
  }

  private def anyId(): Seq[String] = places(rng.nextInt(places.size)).id

  val operations: IndexedSeq[Operation] = {
    val changeKeys = Seq("tags.name", "tags.opening_hours", "images", "placetype",
      "source.osm[0].deleted", "source.osm[1].deleted")
    val out = IndexedSeq.newBuilder[Operation]
    var block = 0L
    for (d <- 0 until days; _ <- 0 until 8) {
      block += 1
      for (ord <- 0 until 4) out += Operation(block, ord, d,
        if (rng.nextDouble() < 0.06) "sys.bot" else "opr.place",
        Seq.fill(rng.nextInt(3))(anyId()),
        Seq.fill(rng.nextInt(4))(Edit(anyId(), Seq.fill(1 + rng.nextInt(2)) {
          val k = changeKeys(rng.nextInt(changeKeys.size))
          k -> s"v${rng.nextInt(100)}"
        }.toMap)),
        if (rng.nextDouble() < 0.2) Seq(anyId()) else Seq.empty)
    }
    out.result()
  }

  /** Ids already reviewed: the anti-join side of reviewClosedPlaces. */
  val reviewed: IndexedSeq[Seq[String]] =
    places.filter(p => p.mainDeleted && rng.nextDouble() < 0.3).map(_.id)

  /** Shares of the request mix; tile reads take the remainder. */
  private val mix = Seq("history" -> 0.08, "snapshotAt" -> 0.05,
    "reviewClosedPlaces" -> 0.05, "summary" -> 0.025)

  /** The seeded request stream; block `b` holds requests b·n until (b+1)·n.
    * Every block has the same number of requests of each kind (the mix
    * shares of `n`, rounded), in a seeded order with seeded arguments, so
    * blocks differ in what they ask, not in how much work of each kind. */
  def requests(block: Int, n: Int): IndexedSeq[Request] = {
    val r = new SplittableRandom(seed * 1000003L + block)
    // fixed-length windows and snapshots as of the last week: requests of
    // one kind do about the same amount of work
    def window(): (Int, Int) = { val f = r.nextInt(days - 7); (f, f + 7) }
    val kinds = mix.flatMap { case (k, w) => Seq.fill(math.round(w * n).toInt)(k) }
    Gen.shuffled(kinds ++ Seq.fill(n - kinds.size)("geoTile"), r).map {
      case "geoTile" => GeoTile(tiles(tileZipf.sample(r)))
      case "history" => val (f, t) = window(); History(f, t)
      case "snapshotAt" => SnapshotAt(days - r.nextInt(7))
      case "reviewClosedPlaces" => val (f, t) = window(); ReviewClosed(f, t)
      case _ => Summary
    }
  }

  private def placeOps(from: Int, to: Int) =
    operations.filter(o => o.isPlaceOp && o.day >= from && o.day < to)
  private lazy val byTile = places.filter(_.live).groupBy(_.tileid).map { case (k, v) => k -> v.size.toLong }
  private lazy val reviewCandidates = places.filter(p => p.live && p.mainDeleted).map(_.id).toSet
  private lazy val reviewedSet = reviewed.toSet

  /** Rows each request must return. */
  def expectedRows(r: Request): Long = r match {
    case GeoTile(t) => byTile.getOrElse(t, 0L)
    case History(f, t) => placeOps(f, t).map(_.elements.toLong).sum
    case SnapshotAt(a) =>
      placeOps(0, a).flatMap(o => o.created ++ o.edited.map(_.id) ++ o.deleted).distinct.size.toLong
    case ReviewClosed(f, t) =>
      placeOps(f, t).flatMap(o => o.edited.filter(_.removes).map(_.id) ++ o.deleted)
        .count(id => reviewCandidates(id) && !reviewedSet(id)).toLong
    case Summary => places.filter(_.live).map(_.tileid.take(4)).distinct.size.toLong
  }

  /** Live places in all tiles: the `places` column total of `summary`. */
  def livePlaces: Long = places.count(_.live).toLong

  /** The generated values as bytes, for the determinism self-test. */
  def bytes: Array[Byte] =
    (places.mkString("\n") + operations.mkString("\n") + reviewed.mkString).getBytes(UTF_8)
}

// ---------------------------------------------------------------- ingest

final case class TileOp(key: Long, tile4: String, version: Long, closed: Boolean)

/** Seeded op stream `(key, tile4, version, closed)` for the tile
  * materialized view. Keys are Zipf-skewed, so most ops update a place an
  * earlier op created; a key stays in one tile; versions are unique. Tiles
  * are Zipf-skewed too, so a 500-op batch touches about a quarter of the
  * 256 tiles and the write path's "rewrite only touched tiles" matters.
  * Sizes and exponents are assumptions, not taken from measured traffic. */
final class IngestData(seed: Long, nKeys: Int = 20000, nTiles: Int = 256,
                       val batches: Int = 2, val batchRows: Int = 500) {
  private val rng = new SplittableRandom(seed ^ 0x1a6e57L)
  val tiles: IndexedSeq[String] = Gen.tile4s(nTiles, rng)
  private val tileZipf = new Zipf(nTiles, 1.4)
  private val keyTile: Array[String] = Array.fill(nKeys)(tiles(tileZipf.sample(rng)))
  private val keyRank: IndexedSeq[Int] = Gen.shuffled(0 until nKeys, rng)
  private val keyZipf = new Zipf(nKeys, 1.0)

  val ops: IndexedSeq[TileOp] = (0 until batches * batchRows).map { i =>
    val k = keyRank(keyZipf.sample(rng))
    TileOp(k.toLong, keyTile(k), i + 1L, rng.nextDouble() < 0.1)
  }

  def batch(b: Int): IndexedSeq[TileOp] = ops.slice(b * batchRows, (b + 1) * batchRows)

  /** The one-shot batch recompute over the whole log: last version wins per
    * key, then per tile (n_places, n_closed, max_version). */
  lazy val expectedSummary: Map[String, (Long, Long, Long)] =
    ops.groupBy(_.key).values.map(_.maxBy(_.version)).groupBy(_.tile4).map { case (t, ps) =>
      t -> ((ps.size.toLong, ps.count(_.closed).toLong, ps.map(_.version).max))
    }

  /** Raw field width of the log: key 8 + tile4 4 + version 8 + closed 1. */
  def inputBytes: Long = ops.size * 21L

  def bytes: Array[Byte] = ops.mkString("\n").getBytes(UTF_8)
}

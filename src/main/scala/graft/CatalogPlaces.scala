package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.GeoFunctions
import graft.places.ChangeAlgebra

/** Place-engine surface queries over a deterministic synthesized `places`
  * table (customers → places, events → op log): the reference's read
  * surfaces (tile features, clustering) and write path (ordered change
  * fold, merge scoring) exercised end-to-end on driver testdata.
  */
object CatalogPlaces {

  /** Synthesized places: every customer is an active place; 2/3 of them
    * also get a co-located CLOSED twin (key+100000) whose name encodes the
    * match tier it should hit — identical name (tier 0), case/hyphen
    * variant (tier 2), unrelated name but shared wikidata (tier 1), or no
    * name at all (tier 3). Keys %5==0 carry a deleted first OSM source so
    * main-source selection (B2) has to skip it. */
  private def placesTable(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    // spread the per-row OLC encodes across cores (single-file scan = 1 task)
    val cust = Tables.customer(s, d).repartition(s.sparkContext.defaultParallelism)
    val lat = Synth.lat(k)
    val lon = Synth.lon(k)
    val base = k % 50
    def nameOf(variant: Column): Column =
      when(k % 11 === 0, lit(null).cast("string"))
        .otherwise(when(variant === 0, concat(lit("Cafe "), base))
          .when(variant === 1, concat(lit("cafe "), base))
          .otherwise(concat(lit("Cafe-"), base)))
    val variant = expr("(c_custkey div 2) % 3")
    val wikidata = when(k % 7 === 0, concat(lit("Q"), k % 20))
    val src0 = struct(k.as("id"), lit("node").as("type"), lat.as("lat"), lon.as("lon"),
      lit("amenity").as("osm_tag"), lower(col("c_mktsegment")).as("osm_value"),
      when(k % 5 === 0, lit("2021-06-01T00:00:00Z")).otherwise(lit(null).cast("string"))
        .as("deleted"))
    val src1 = struct((k + 10000000L).as("id"), lit("node").as("type"),
      (lat + 0.001).as("lat"), lon.as("lon"),
      lit("amenity").as("osm_tag"), lower(col("c_mktsegment")).as("osm_value"),
      lit(null).cast("string").as("deleted"))
    val orig = cust.select(
      k.as("key"),
      GeoFunctions.olcEncode(lat, lon, 6).as("tile6"),
      GeoFunctions.olcEncode(lat, lon, 2).as("tile2"),
      nameOf(variant).as("name"),
      wikidata.as("wikidata"),
      lower(col("c_mktsegment")).as("placetype"),
      lit(false).as("closed"),
      when(k % 5 === 0, array(src0, src1)).otherwise(array(src0)).as("osm"))
    val twinName = when(k % 11 === 0, lit(null).cast("string"))
      .when(k % 4 === 0, nameOf(variant))
      .when(k % 4 === 1, nameOf((variant + 1) % 3))
      .when(k % 4 === 2, concat(lit("Gone "), k))
      .otherwise(lit(null).cast("string"))
    val twin = cust.where(k % 3 =!= 0).select(
      (k + 100000L).as("key"),
      GeoFunctions.olcEncode(lat, lon, 6).as("tile6"),
      GeoFunctions.olcEncode(lat, lon, 2).as("tile2"),
      twinName.as("name"),
      when(k % 4 === 2, wikidata).as("wikidata"),
      lower(col("c_mktsegment")).as("placetype"),
      lit(true).as("closed"),
      array(src0).as("osm"))
    orig.unionByName(twin)
  }

  /** Shared SQL prelude mirroring placesTable (DuckDB side). */
  private val placesSql =
    s"""WITH orig0 AS (
       |  SELECT c_custkey AS key,
       |    (SELECT ${Synth.olcSql(6)} FROM (SELECT ${Synth.latvLonvSql("c_custkey")})) AS tile6,
       |    (SELECT ${Synth.olcSql(2)} FROM (SELECT ${Synth.latvLonvSql("c_custkey")})) AS tile2,
       |    (c_custkey // 2) % 3 AS variant, c_custkey % 50 AS base,
       |    CASE WHEN c_custkey % 7 = 0 THEN 'Q' || (c_custkey % 20) END AS wikidata,
       |    lower(c_mktsegment) AS placetype,
       |    c_custkey % 5 = 0 AS first_src_deleted,
       |    (${Synth.latSql.format("c_custkey")}) AS lat,
       |    (${Synth.lonSql.format("c_custkey")}) AS lon
       |  FROM customer),
       |orig AS (
       |  SELECT key, tile6, tile2,
       |    CASE WHEN key % 11 = 0 THEN NULL
       |         WHEN variant = 0 THEN 'Cafe ' || base
       |         WHEN variant = 1 THEN 'cafe ' || base
       |         ELSE 'Cafe-' || base END AS name,
       |    wikidata, placetype, FALSE AS closed, first_src_deleted, lat, lon
       |  FROM orig0),
       |twin AS (
       |  SELECT key + 100000 AS key, tile6, tile2,
       |    CASE WHEN key % 11 = 0 THEN NULL
       |         WHEN key % 4 = 0 THEN
       |           CASE WHEN variant = 0 THEN 'Cafe ' || base
       |                WHEN variant = 1 THEN 'cafe ' || base
       |                ELSE 'Cafe-' || base END
       |         WHEN key % 4 = 1 THEN
       |           CASE WHEN (variant + 1) % 3 = 0 THEN 'Cafe ' || base
       |                WHEN (variant + 1) % 3 = 1 THEN 'cafe ' || base
       |                ELSE 'Cafe-' || base END
       |         WHEN key % 4 = 2 THEN 'Gone ' || key
       |         ELSE NULL END AS name,
       |    CASE WHEN key % 4 = 2 THEN wikidata END AS wikidata,
       |    placetype, TRUE AS closed, first_src_deleted, lat, lon
       |  FROM orig0 WHERE key % 3 <> 0),
       |places AS (SELECT * FROM orig UNION ALL SELECT * FROM twin)
       |SELECT * FROM places""".stripMargin

  /** §3.1 geoTile read surface: tombstone filter (B1), main-source
    * selection skipping per-source tombstones (B2), feature projection
    * with title fallback (B9/B11). */
  private def pl1(s: SparkSession, d: String): DataFrame = {
    val p = placesTable(s, d)
    val live = filter(col("osm"), o =>
      o.getField("deleted").isNull && o.getField("lat").isNotNull &&
        o.getField("osm_value").isNotNull)
    // try_element_at: ANSI-safe when the live-source filter empties the array
    val main = coalesce(try_element_at(live, lit(1)), try_element_at(col("osm"), lit(1)))
    p.where(!col("closed"))
      .select(
        col("key"),
        concat_ws(",", col("tile6"), concat(lit("s"), col("key"))).as("opr_id"),
        coalesce(col("name"), initcap(col("placetype"))).as("title"),
        round(main.getField("lat"), 6).as("main_lat"),
        round(main.getField("lon"), 6).as("main_lon"),
        size(col("osm")).as("osm_cnt"),
        size(filter(col("osm"), o => o.getField("deleted").isNotNull))
          .as("deleted_osm_cnt"))
      .orderBy("key")
  }

  /** C3 ordered change application: per-entity op log folded through
    * ChangeAlgebra (set/append/delete verbs, path resolution) inside
    * mapGroups — groups fold sequentially, entities fold in parallel. */
  private def pl2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select("user_id", "event_id", "event_type")
      .as[(Long, Long, String)]
    e.groupByKey(_._1).mapGroups { (uid, it) =>
      val changes = it.toSeq.sortBy(_._2).map { case (_, id, tpe) =>
        tpe match {
          case "view" => Map[String, Any]("props.last_view" -> ChangeAlgebra.set(id))
          case "click" => Map[String, Any]("clicks" -> ChangeAlgebra.append(id))
          case "purchase" => Map[String, Any]("props.last_purchase" -> ChangeAlgebra.set(id))
          case "signup" => Map[String, Any]("props.user" -> ChangeAlgebra.set("u" + uid))
          case _ => Map[String, Any]("props.last_view" -> ChangeAlgebra.Delete)
        }
      }
      val doc = ChangeAlgebra.applyAll(Map.empty, changes)
      val props = doc.getOrElse("props", Map.empty).asInstanceOf[Map[String, Any]]
      (uid,
        props.get("last_view").map(_.asInstanceOf[Long]),
        doc.get("clicks").map(_.asInstanceOf[Seq[Any]].size).getOrElse(0),
        props.get("last_purchase").map(_.asInstanceOf[Long]),
        props.get("user").map(String.valueOf).orNull)
    }.toDF("user_id", "last_view", "n_clicks", "last_purchase", "user_tag")
      .orderBy("user_id")
  }

  /** §3.2 history clustering (D2/I2): connected components over the
    * <100 km proximity graph of event points, labels = min id in the
    * component (the scalable, deterministic form of the reference's greedy
    * in-memory clustering; SURVEY §7 hard-part 2). The distance join is
    * tile-bucketed DataFrame code; the component search is alternating
    * large-star/small-star star-contraction as pure DataFrame iteration
    * ([[graft.geo.ConnectedComponents]]) — the synthetic lattice chains
    * hundreds of points, where naive label propagation needs O(diameter)
    * rounds; star-contraction needs O(log n). */
  private def pl3(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.events(s, d).select(
      col("event_id").as("k"),
      Synth.lat(col("event_id")).as("lat"),
      Synth.lon(col("event_id")).as("lon"))
    // density-adaptive radius (100 km at 10k points, shrinking with √n):
    // keeps the proximity graph sparse with small components — the
    // reference's regime (150 m clusters of a handful of places). A fixed
    // radius percolates at higher SF into one giant high-diameter
    // component and clustering cost explodes quadratically.
    val n = Tables.eventCount(s, d) // memoized — no extra scan per query
    val radiusM = math.min(100000.0 * math.sqrt(10000.0 / n),
      graft.geo.GeoJoins.MaxRadiusM)
    // the labels are checkpointed, so the pairs' points cache is dead once
    // they exist: this scope frees it on return
    graft.util.Materialize.scoped { scope =>
      val edges = graft.geo.GeoJoins.pairsWithin(scope, pts, "k", "lat", "lon", radiusM)
        .select(col("a_key").as("a"), col("b_key").as("b"))
        // few edges (sparse by construction) — pack them so each contraction
        // round schedules a handful of tasks, not 32 near-empty ones
        .coalesce(8)
      val labels = graft.geo.ConnectedComponents.label(s, edges)
      pts.select(col("k").as("node"))
        .join(labels, Seq("node"), "left")
        .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
        .orderBy("node")
    }
  }

  /** D4/D5 merge scoring, distributed form: per closed place, the best
    * match tier among its candidates and the chosen one (last-wins on
    * tier ties, as in the reference's scan loop). Candidates are bounded
    * to the reference's 100 m merge radius (MergePlaceBot.java:40,169-182)
    * and generated by the band-bucketed [[graft.geo.GeoJoins.pairsWithin]]
    * — never a bare-tile closed×active join, whose pair count is
    * |closed|×|active| per 20° cell (quadratic on a planetary corpus; one
    * tile2 holds a subcontinent). The nameless tier only applies when the
    * closed place has exactly one candidate in radius and that candidate
    * has no other closed place in radius. */
  private def pl4(s: SparkSession, d: String): DataFrame = {
    // cache: several consumers would each re-run the OLC tile encodes and
    // struct assembly otherwise. Lazy on purpose: the stages race to
    // populate it, but with idle cores the races overlap and forcing
    // materialization first (p.count()) only adds a serial pass — measured
    // wall-neutral-to-worse here; flip on a contended cluster (see
    // Dedup.ngramJaccardPairs).
    val k0 = col("key") - when(col("closed"), 100000L).otherwise(0L)
    val p = placesTable(s, d)
      .withColumn("simple_name", lower(regexp_replace(col("name"), "[ -]", "")))
      .withColumn("lat", Synth.lat(k0))
      .withColumn("lon", Synth.lon(k0))
      .cache()
    val radiusM = 100.0
    val edges = graft.geo.GeoJoins.pairsWithin(
      p.select(col("key").as("k"), col("lat"), col("lon")),
      "k", "lat", "lon", radiusM)
    // orient the unordered pairs closed→active; the other orientation and
    // same-status pairs drop out of the two key-equi-joins
    val both = edges.select(col("a_key").as("x"), col("b_key").as("y"))
      .unionByName(edges.select(col("b_key").as("x"), col("a_key").as("y")))
    val closed = p.where(col("closed")).select(
      col("key").as("c_key"), col("name").as("c_name"),
      col("simple_name").as("c_simple"), col("wikidata").as("c_wiki"))
    val active = p.where(!col("closed")).select(
      col("key").as("a_key"), col("name").as("a_name"),
      col("simple_name").as("a_simple"), col("wikidata").as("a_wiki"))
    val cand = both
      .join(closed, both("x") === closed("c_key"))
      .join(active, both("y") === active("a_key"))
    // neighborhood stats over the candidate set itself: how many active
    // places this closed one could merge into, and how many closed places
    // compete for that active one
    // a_key window FIRST, then both c_key windows (n_active here, best_tier
    // below) back to back — adjacent same-key windows share one exchange
    val pairs = cand
      .withColumn("n_closed", count(lit(1)).over(Window.partitionBy("a_key")))
      .withColumn("n_active", count(lit(1)).over(Window.partitionBy("c_key")))
      .withColumn("tier",
        when(col("c_name").isNotNull && col("c_name") === col("a_name"), 0)
          .when(col("c_wiki").isNotNull && col("c_wiki") === col("a_wiki"), 1)
          .when(col("c_name").isNotNull && col("c_simple") === col("a_simple"), 2)
          .when(col("c_name").isNull && col("n_active") === 1 && col("n_closed") === 1, 3))
      .where(col("tier").isNotNull)
    val w = Window.partitionBy("c_key")
    pairs
      .withColumn("best_tier", min("tier").over(w))
      .where(col("tier") === col("best_tier"))
      .groupBy("c_key", "best_tier")
      .agg(max("a_key").as("chosen_candidate"), count(lit(1)).as("n_matches"))
      .orderBy("c_key")
  }

  val entries: Seq[Q] = Seq(
    Q("pl1_geo_tile", pl1,
      Some(s"""WITH p AS ($placesSql)
              |SELECT key, tile6 || ',s' || key AS opr_id,
              |  coalesce(name, upper(substr(placetype,1,1)) || substr(placetype,2)) AS title,
              |  round(CASE WHEN first_src_deleted THEN lat + 0.001 ELSE lat END, 6) AS main_lat,
              |  round(lon, 6) AS main_lon,
              |  CASE WHEN first_src_deleted THEN 2 ELSE 1 END AS osm_cnt,
              |  CASE WHEN first_src_deleted THEN 1 ELSE 0 END AS deleted_osm_cnt
              |FROM p WHERE NOT closed ORDER BY key""".stripMargin)),
    Q("pl2_ops_fold", pl2,
      Some("""WITH m AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'view' THEN event_id END) AS max_view,
             |    max(CASE WHEN event_type = 'error' THEN event_id END) AS max_error,
             |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS INT) AS n_clicks,
             |    max(CASE WHEN event_type = 'purchase' THEN event_id END) AS last_purchase,
             |    CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS INT) AS n_signup
             |  FROM events GROUP BY user_id)
             |SELECT user_id,
             |  CASE WHEN max_view IS NOT NULL
             |        AND (max_error IS NULL OR max_view > max_error)
             |       THEN max_view END AS last_view,
             |  n_clicks, last_purchase,
             |  CASE WHEN n_signup > 0 THEN 'u' || user_id END AS user_tag
             |FROM m ORDER BY user_id""".stripMargin)),
    // MATERIALIZED is load-bearing: without it DuckDB inlines the quadratic
    // edge join into every recursion iteration (~506 s at sf0.01 vs ~9 s).
    // The lat-band prefilter is exact: haversine distance is at least the
    // meridian component, |dLat|deg * 111226 m, so |dLat| < r/111000 is a
    // strict superset of the radius predicate. Recursion is seeded only from
    // nodes on edges; isolated nodes are their own cluster by definition.
    Q("pl3_history_cluster", pl3,
      Some(s"""WITH g AS MATERIALIZED (
              |  SELECT event_id AS k, (${Synth.latSql.format("event_id")}) AS lat,
              |         (${Synth.lonSql.format("event_id")}) AS lon FROM events),
              |rad AS MATERIALIZED (
              |  SELECT least(100000.0 * sqrt(10000.0 / count(*)), 190000.0) AS radius
              |  FROM events),
              |edges AS MATERIALIZED (
              |  SELECT a.k AS a, b.k AS b FROM g a JOIN g b
              |    ON a.k <> b.k
              |   AND a.lat BETWEEN b.lat - (SELECT radius FROM rad) / 111000.0
              |                 AND b.lat + (SELECT radius FROM rad) / 111000.0
              |  WHERE ${Synth.havSql("a.lat", "a.lon", "b.lat", "b.lon")}
              |        < (SELECT radius FROM rad)),
              |en AS MATERIALIZED (SELECT DISTINCT a AS k FROM edges),
              |reach AS (
              |  WITH RECURSIVE r(a, b) AS (
              |    SELECT k, k FROM en
              |    UNION
              |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
              |  SELECT * FROM r)
              |SELECT a AS node, min(b) AS cluster FROM reach GROUP BY a
              |UNION ALL
              |SELECT k AS node, k AS cluster FROM g
              |WHERE k NOT IN (SELECT k FROM en)
              |ORDER BY node""".stripMargin)),
    Q("pl4_merge_scoring", pl4,
      Some(s"""WITH p AS ($placesSql),
              |q AS (SELECT *, lower(regexp_replace(name, '[ -]', '', 'g')) AS simple_name FROM p),
              |c AS (SELECT key AS c_key, name AS c_name, simple_name AS c_simple,
              |             wikidata AS c_wiki, lat, lon FROM q WHERE closed),
              |a AS (SELECT key AS a_key, name AS a_name, simple_name AS a_simple,
              |             wikidata AS a_wiki, lat, lon FROM q WHERE NOT closed),
              |cand AS (
              |  SELECT c_key, a_key, c_name, a_name, c_simple, a_simple,
              |         c_wiki, a_wiki
              |  FROM c JOIN a
              |    ON ${Synth.havSql("c.lat", "c.lon", "a.lat", "a.lon")} < 100.0),
              |st AS (
              |  SELECT *, count(*) OVER (PARTITION BY c_key) AS n_active,
              |            count(*) OVER (PARTITION BY a_key) AS n_closed
              |  FROM cand),
              |pairs AS (
              |  SELECT c_key, a_key,
              |    CASE WHEN c_name IS NOT NULL AND c_name = a_name THEN 0
              |         WHEN c_wiki IS NOT NULL AND c_wiki = a_wiki THEN 1
              |         WHEN c_name IS NOT NULL AND c_simple = a_simple THEN 2
              |         WHEN c_name IS NULL AND n_active = 1 AND n_closed = 1 THEN 3
              |    END AS tier
              |  FROM st),
              |t AS (SELECT *, min(tier) OVER (PARTITION BY c_key) AS best_tier
              |      FROM pairs WHERE tier IS NOT NULL)
              |SELECT c_key, CAST(best_tier AS INT) AS best_tier,
              |       max(a_key) AS chosen_candidate, count(*) AS n_matches
              |FROM t WHERE tier = best_tier
              |GROUP BY c_key, best_tier ORDER BY c_key""".stripMargin)),
  )
}

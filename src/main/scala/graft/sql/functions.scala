package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.internal.StaticSQLConf

/** Column-level API for the engine's function surface, mirroring
  * `org.apache.spark.sql.functions`. Also installs every function into the
  * session FunctionRegistry so the whole surface is usable from
  * `spark.sql(...)` — the reference has no SQL layer, this is a
  * Spark-native bonus.
  */
object functions {

  private def expr(c: Column): Expression = org.apache.spark.sql.GraftInterop.expression(c)
  private def col(e: Expression): Column = org.apache.spark.sql.GraftInterop.column(e)
  private def fn(name: String, args: Column*): Column =
    col(GraftScalar(name, args.map(expr)))
  private def agg(a: AggregateFunction): Column = col(a.toAggregateExpression())

  // ------------------------------------------------------------ constructors
  def st_point(x: Column, y: Column): Column = fn("st_point", x, y)
  def st_pointz(x: Column, y: Column, z: Column): Column = fn("st_pointz", x, y, z)
  def st_makeEnvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    fn("st_makeenvelope", xmin, ymin, xmax, ymax)
  def st_geomFromWKT(wkt: Column): Column = fn("st_geomfromwkt", wkt)
  def st_geomFromWKB(wkb: Column): Column = fn("st_geomfromwkb", wkb)
  def st_makeLine(points: Column): Column = fn("st_makeline", points)
  def st_makePolygon(ring: Column): Column = fn("st_makepolygon", ring)

  // --------------------------------------------------------------- accessors
  def st_x(g: Column): Column = fn("st_x", g)
  def st_y(g: Column): Column = fn("st_y", g)
  def st_z(g: Column): Column = fn("st_z", g)
  def st_xmin(g: Column): Column = fn("st_xmin", g)
  def st_ymin(g: Column): Column = fn("st_ymin", g)
  def st_xmax(g: Column): Column = fn("st_xmax", g)
  def st_ymax(g: Column): Column = fn("st_ymax", g)
  def st_bounds(g: Column): Column = fn("st_bounds", g)
  def st_geometryType(g: Column): Column = fn("st_geometrytype", g)
  def st_dimension(g: Column): Column = fn("st_dimension", g)
  /** GeoArrow native encoding boundary (GeoParquet 1.1): kind is one of
    * point/linestring/polygon/multipoint/multilinestring/multipolygon.
    */
  def st_toGeoArrow(kind: String, g: Column): Column =
    fn(s"st_to_geoarrow_${kind.toLowerCase}", g)
  def st_fromGeoArrow(kind: String, nested: Column): Column =
    fn(s"st_from_geoarrow_${kind.toLowerCase}", nested)
  def st_numGeometries(g: Column): Column = fn("st_numgeometries", g)
  def st_numPoints(g: Column): Column = fn("st_numpoints", g)
  def st_geometryN(g: Column, i: Column): Column = fn("st_geometryn", g, i)
  def st_pointN(g: Column, i: Column): Column = fn("st_pointn", g, i)
  def st_isEmpty(g: Column): Column = fn("st_isempty", g)
  def st_hasZ(g: Column): Column = fn("st_hasz", g)
  def st_isRing(g: Column): Column = fn("st_isring", g)
  def st_isSimple(g: Column): Column = fn("st_issimple", g)
  def st_numInteriorRings(g: Column): Column = fn("st_numinteriorrings", g)
  def st_interiorRingN(g: Column, i: Column): Column = fn("st_interiorringn", g, i)
  def st_isValid(g: Column): Column = fn("st_isvalid", g)

  // ---------------------------------------------------------------- measures
  def st_area(g: Column): Column = fn("st_area", g)
  def st_length(g: Column): Column = fn("st_length", g)
  def st_perimeter(g: Column): Column = fn("st_perimeter", g)
  def st_distance(a: Column, b: Column): Column = fn("st_distance", a, b)
  def st_distanceSpheroid(a: Column, b: Column): Column = fn("st_distancespheroid", a, b)
  def st_distanceSphere(a: Column, b: Column): Column = fn("st_distancesphere", a, b)
  def st_lengthSpheroid(g: Column): Column = fn("st_lengthspheroid", g)
  def st_areaSpheroid(g: Column): Column = fn("st_areaspheroid", g)
  def st_azimuthSpheroid(a: Column, b: Column): Column = fn("st_azimuthspheroid", a, b)
  def st_perimeterSpheroid(g: Column): Column = fn("st_perimeterspheroid", g)
  def st_projectSpheroid(p: Column, distM: Column, azRad: Column): Column =
    fn("st_projectspheroid", p, distM, azRad)
  def st_projectSphere(p: Column, distM: Column, azRad: Column): Column =
    fn("st_projectsphere", p, distM, azRad)

  // -------------------------------------------------------------- predicates
  def st_intersects(a: Column, b: Column): Column = fn("st_intersects", a, b)
  def st_disjoint(a: Column, b: Column): Column = fn("st_disjoint", a, b)
  def st_contains(a: Column, b: Column): Column = fn("st_contains", a, b)
  def st_within(a: Column, b: Column): Column = fn("st_within", a, b)
  def st_covers(a: Column, b: Column): Column = fn("st_covers", a, b)
  def st_coveredBy(a: Column, b: Column): Column = fn("st_coveredby", a, b)
  def st_containsProperly(a: Column, b: Column): Column = fn("st_containsproperly", a, b)
  def st_touches(a: Column, b: Column): Column = fn("st_touches", a, b)
  def st_crosses(a: Column, b: Column): Column = fn("st_crosses", a, b)
  def st_overlaps(a: Column, b: Column): Column = fn("st_overlaps", a, b)
  def st_equals(a: Column, b: Column): Column = fn("st_equals", a, b)
  def st_equalsExact(a: Column, b: Column, tol: Column): Column = fn("st_equalsexact", a, b, tol)
  def st_dwithin(a: Column, b: Column, d: Column): Column = fn("st_dwithin", a, b, d)
  def st_dwithinSphere(a: Column, b: Column, meters: Column): Column =
    fn("st_dwithinsphere", a, b, meters)
  def st_geomFromGeoJson(s: Column): Column = fn("st_geomfromgeojson", s)
  def st_asGeoJson(g: Column): Column = fn("st_asgeojson", g)
  def st_relate(a: Column, b: Column): Column = fn("st_relate", a, b)
  def st_intersectsBox(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    fn("st_intersectsbox", g, xmin, ymin, xmax, ymax)

  // ------------------------------------------------------------ constructive
  def st_centroid(g: Column): Column = fn("st_centroid", g)
  def st_envelope(g: Column): Column = fn("st_envelope", g)
  def st_boundary(g: Column): Column = fn("st_boundary", g)
  def st_convexHull(g: Column): Column = fn("st_convexhull", g)
  def st_exteriorRing(g: Column): Column = fn("st_exteriorring", g)
  def st_pointOnSurface(g: Column): Column = fn("st_pointonsurface", g)
  def st_buffer(g: Column, dist: Column, resolution: Column = lit(16)): Column =
    fn("st_buffer", g, dist, resolution)
  /** PostGIS ST_Buffer(geography): geodesic buffer in meters over lon/lat. */
  def st_bufferSpheroid(g: Column, distM: Column, resolution: Column = lit(16)): Column =
    fn("st_bufferspheroid", g, distM, resolution)
  def st_bufferStyled(g: Column, dist: Column, resolution: Column = lit(16),
      capStyle: Column = lit("round"), joinStyle: Column = lit("round"),
      mitreLimit: Column = lit(5.0)): Column =
    fn("st_buffer_styled", g, dist, resolution, capStyle, joinStyle, mitreLimit)
  def st_simplify(g: Column, tol: Column): Column = fn("st_simplify", g, tol)
  def st_lineInterpolatePoint(g: Column, d: Column, normalized: Column = lit(false)): Column =
    fn("st_lineinterpolatepoint", g, d, normalized)
  def st_lineLocatePoint(g: Column, p: Column, normalized: Column = lit(false)): Column =
    fn("st_linelocatepoint", g, p, normalized)
  def st_lineSubstring(g: Column, f0: Column, f1: Column): Column =
    fn("st_linesubstring", g, f0, f1)
  def st_azimuth(a: Column, b: Column): Column = fn("st_azimuth", a, b)
  def st_split(g: Column, splitter: Column): Column = fn("st_split", g, splitter)

  // ------------------------------------- extended constructive (geopandas)
  def st_reverse(g: Column): Column = fn("st_reverse", g)
  def st_force2d(g: Column): Column = fn("st_force2d", g)
  def st_segmentize(g: Column, maxLen: Column): Column = fn("st_segmentize", g, maxLen)
  def st_removeRepeatedPoints(g: Column, tol: Column = lit(0.0)): Column =
    fn("st_removerepeatedpoints", g, tol)
  def st_extractUniquePoints(g: Column): Column = fn("st_extractuniquepoints", g)
  def st_minimumBoundingRadius(g: Column): Column = fn("st_minimumboundingradius", g)
  def st_minimumBoundingCircle(g: Column, resolution: Column = lit(16)): Column =
    fn("st_minimumboundingcircle", g, resolution)
  def st_triangulatePolygon(g: Column): Column = fn("st_triangulatepolygon", g)
  def st_snapToGrid(g: Column, size: Column): Column = fn("st_snaptogrid", g, size)
  def st_chaikinSmoothing(g: Column, iters: Column = lit(1)): Column =
    fn("st_chaikinsmoothing", g, iters)
  def st_geometricMedian(g: Column, iters: Column = lit(3)): Column =
    fn("st_geometricmedian", g, iters)
  def st_longestLine(a: Column, b: Column): Column = fn("st_longestline", a, b)
  def st_angle(p1: Column, p2: Column, p3: Column): Column = fn("st_angle", p1, p2, p3)
  def st_maxDistance(a: Column, b: Column): Column = fn("st_maxdistance", a, b)
  def st_maximumInscribedCircle(g: Column, tolerance: Column = lit(0.0)): Column =
    fn("st_maximuminscribedcircle", g, tolerance)
  def st_orientedEnvelope(g: Column): Column = fn("st_orientedenvelope", g)
  def st_shortestLine(a: Column, b: Column): Column = fn("st_shortestline", a, b)
  def st_closestPoint(a: Column, b: Column): Column = fn("st_closestpoint", a, b)
  def st_hausdorffDistance(a: Column, b: Column): Column = fn("st_hausdorffdistance", a, b)
  def st_lineMerge(g: Column): Column = fn("st_linemerge", g)
  def st_delaunayTriangles(g: Column): Column = fn("st_delaunaytriangles", g)
  def st_frechetDistance(a: Column, b: Column): Column = fn("st_frechetdistance", a, b)
  def st_offsetCurve(g: Column, dist: Column): Column = fn("st_offsetcurve", g, dist)
  def st_samplePoints(g: Column, size: Column, seed: Column): Column =
    fn("st_samplepoints", g, size, seed)
  def st_isCcw(g: Column): Column = fn("st_isccw", g)
  def st_concaveHull(g: Column, ratio: Column): Column = fn("st_concavehull", g, ratio)
  def st_voronoiPolygons(g: Column): Column = fn("st_voronoipolygons", g)
  def st_polygonize(g: Column): Column = fn("st_polygonize", g)
  def st_buildArea(g: Column): Column = fn("st_buildarea", g)
  def st_sharedPaths(a: Column, b: Column): Column = fn("st_sharedpaths", a, b)
  def st_relatePattern(a: Column, b: Column, pattern: Column): Column =
    fn("st_relatepattern", a, b, pattern)
  def st_isValidReason(g: Column): Column = fn("st_isvalidreason", g)
  def st_makeValid(g: Column): Column = fn("st_makevalid", g)
  def st_node(g: Column): Column = fn("st_node", g)
  def st_force3d(g: Column, z: Column): Column = fn("st_force3d", g, z)
  def st_setPrecision(g: Column, grid: Column): Column = fn("st_setprecision", g, grid)
  def st_normalize(g: Column): Column = fn("st_normalize", g)
  def st_snap(src: Column, tgt: Column, tol: Column): Column = fn("st_snap", src, tgt, tol)
  def st_minimumClearance(g: Column): Column = fn("st_minimumclearance", g)

  // ---------------------------------------------------------------- affine
  def st_affine(g: Column, a: Column, b: Column, d: Column, e: Column,
      xoff: Column, yoff: Column): Column = fn("st_affine", g, a, b, d, e, xoff, yoff)
  def st_translate(g: Column, xoff: Column, yoff: Column): Column =
    fn("st_translate", g, xoff, yoff)
  def st_rotate(g: Column, angle: Column, ox: Column, oy: Column,
      useRadians: Column = lit(false)): Column = fn("st_rotate", g, angle, ox, oy, useRadians)
  def st_scale(g: Column, xf: Column, yf: Column, ox: Column, oy: Column): Column =
    fn("st_scale", g, xf, yf, ox, oy)
  def st_skew(g: Column, xs: Column, ys: Column, ox: Column, oy: Column,
      useRadians: Column = lit(false)): Column = fn("st_skew", g, xs, ys, ox, oy, useRadians)

  // ----------------------------------------------------------------- overlay
  def st_intersection(a: Column, b: Column): Column = fn("st_intersection", a, b)
  def st_difference(a: Column, b: Column): Column = fn("st_difference", a, b)
  def st_union(a: Column, b: Column): Column = fn("st_union", a, b)
  def st_symDifference(a: Column, b: Column): Column = fn("st_symdifference", a, b)
  def st_clipByBox(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    fn("st_clipbybox", g, xmin, ymin, xmax, ymax)

  // --------------------------------------------------------------- serialize
  def st_asText(g: Column): Column = fn("st_astext", g)
  def st_asText(g: Column, roundingPrecision: Column): Column =
    fn("st_astext_prec", g, roundingPrecision)
  def st_asBinary(g: Column): Column = fn("st_asbinary", g)

  // ------------------------------------------------------- collection / dump
  def st_dump(g: Column): Column = fn("st_dump", g)
  def st_subdivide(g: Column, maxVertices: Column): Column =
    fn("st_subdivide", g, maxVertices)
  def st_dumpPoints(g: Column): Column = fn("st_dumppoints", g)
  def st_collect(arr: Column): Column = fn("st_collect", arr)

  // --------------------------------------------------------------------- SFC
  def st_hilbert(g: Column, level: Column, xmin: Column, ymin: Column,
      xmax: Column, ymax: Column): Column = fn("st_hilbert", g, level, xmin, ymin, xmax, ymax)
  def st_morton(g: Column, level: Column, xmin: Column, ymin: Column,
      xmax: Column, ymax: Column): Column = fn("st_morton", g, level, xmin, ymin, xmax, ymax)
  def st_geohash(g: Column, precision: Column): Column = fn("st_geohash", g, precision)
  def st_geohashLong(g: Column, precision: Column): Column = fn("st_geohashlong", g, precision)
  def st_tileX(lon: Column, z: Column): Column = fn("st_tilex", lon, z)
  def st_tileY(lat: Column, z: Column): Column = fn("st_tiley", lat, z)
  def st_quadkey(z: Column, x: Column, y: Column): Column = fn("st_quadkey", z, x, y)
  def st_tileEnvelope(z: Column, x: Column, y: Column): Column =
    fn("st_tileenvelope", z, x, y)
  def st_tileCover(g: Column, z: Column): Column = fn("st_tilecover", g, z)
  def st_hexQ(x: Column, y: Column, size: Column): Column = fn("st_hexq", x, y, size)
  def st_hexR(x: Column, y: Column, size: Column): Column = fn("st_hexr", x, y, size)
  def st_hexCenter(q: Column, r: Column, size: Column): Column =
    fn("st_hexcenter", q, r, size)

  // --------------------------------------------------------------------- CRS
  def st_transform(g: Column, from: Column, to: Column): Column =
    fn("st_transform", g, from, to)

  // -------------------------------------------------------------------- grid
  def st_gridCells(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column,
      level: Column): Column = fn("st_gridcells", g, xmin, ymin, xmax, ymax, level)
  def st_gridCellAnchor(a: Column, b: Column, xmin: Column, ymin: Column, xmax: Column,
      ymax: Column, level: Column): Column =
    fn("st_gridcell_anchor", a, b, xmin, ymin, xmax, ymax, level)
  def st_gridCellsSized(g: Column, cellSize: Column): Column =
    fn("st_gridcells_sized", g, cellSize)
  def st_gridCellAnchorSized(a: Column, b: Column, cellSize: Column): Column =
    fn("st_gridcell_anchor_sized", a, b, cellSize)
  def st_gridCellsSizedPad(g: Column, cellSize: Column, pad: Column): Column =
    fn("st_gridcells_sized_pad", g, cellSize, pad)
  def st_gridCellAnchorSizedPad(a: Column, b: Column, cellSize: Column, pad: Column): Column =
    fn("st_gridcell_anchor_sized_pad", a, b, cellSize, pad)
  def st_gridCellsSizedSentinel(g: Column, cellSize: Column, pad: Column,
      leftSide: Column): Column =
    fn("st_gridcells_sized_sentinel", g, cellSize, pad, leftSide)
  def st_gridCellsSizedFineHot(g: Column, cellSize: Column, split: Column,
      pad: Column, hotSorted: Column): Column =
    fn("st_gridcells_sized_fine_hot", g, cellSize, split, pad, hotSorted)
  def st_gridCellsSizedFineHotSent(g: Column, cellSize: Column, split: Column,
      pad: Column, hotSorted: Column, maxCells: Column): Column =
    fn("st_gridcells_sized_fine_hot_sent", g, cellSize, split, pad, hotSorted, maxCells)
  def st_gridCellsSizedFineHotCap(g: Column, cellSize: Column, split: Column,
      pad: Column, hotSorted: Column, maxCells: Column): Column =
    fn("st_gridcells_sized_fine_hot_cap", g, cellSize, split, pad, hotSorted, maxCells)
  def st_fineHotOversized(g: Column, cellSize: Column, split: Column,
      pad: Column, hotSorted: Column, maxCells: Column): Column =
    fn("st_finehot_oversized", g, cellSize, split, pad, hotSorted, maxCells)
  def st_gridCellAnchorSizedFine(a: Column, b: Column, cellSize: Column,
      split: Column, pad: Column): Column =
    fn("st_gridcell_anchor_sized_fine", a, b, cellSize, split, pad)

  // ------------------------------------------------------------- aggregates
  def st_unionAgg(g: Column): Column = agg(StUnionAgg(expr(g)))
  def st_collectAgg(g: Column): Column = agg(StCollectAgg(expr(g)))
  def st_envelopeAgg(g: Column): Column = agg(StEnvelopeAgg(expr(g)))
  def st_intersectionAgg(g: Column): Column = agg(StIntersectionAgg(expr(g)))

  // ------------------------------------------------------- pipeline: text
  def gr_tokenCount(text: Column): Column = fn("gr_token_count", text)
  def gr_bpeTokenCount(text: Column): Column = fn("gr_bpe_token_count", text)
  def gr_tokens(text: Column): Column = fn("gr_tokens", text)
  def gr_wordpiece(text: Column, vocab: Column, maxWordChars: Column): Column =
    fn("gr_wordpiece", text, vocab, maxWordChars)
  def gr_shingles(text: Column, n: Column): Column = fn("gr_shingles", text, n)
  def gr_tokenWindowMd5(toks: Column, n: Column): Column =
    fn("gr_token_window_md5", toks, n)
  def gr_tokenWindows(toks: Column, n: Column): Column =
    fn("gr_token_windows", toks, n)
  def gr_gramHashes(text: Column, n: Column): Column = fn("gr_gram_hashes", text, n)
  def gr_sortedIntersectSize(a: Column, b: Column): Column =
    fn("gr_sorted_intersect_size", a, b)
  def gr_minhash(text: Column, numHashes: Column, shingleSize: Column, seed: Column): Column =
    fn("gr_minhash", text, numHashes, shingleSize, seed)
  def gr_bandKeys(sig: Column, bands: Column): Column = fn("gr_bandkeys", sig, bands)
  def gr_chainPairs(id: Column, packed: Column, reps: Column,
      band: Column, bands: Column, threshold: Column): Column =
    fn("gr_chain_pairs", id, packed, reps, band, bands, threshold)

  /** Bounded representative collection: the k lowest-id (id, sig) rows of
    * the group/window — O(k) aggregation state regardless of group size.
    */
  def gr_minKSigs(id: Column, sig: Column, k: Int): Column =
    org.apache.spark.sql.GraftInterop.column(
      graft.sql.MinKSigAgg(
        org.apache.spark.sql.GraftInterop.expression(id),
        org.apache.spark.sql.GraftInterop.expression(sig), k).toAggregateExpression())
  /** Fused running-window minK + chain-pair emission (window-only; see
    * [[graft.sql.ChainPairsAgg]]) — the minhashLsh hot path.
    */
  def gr_chainPairsWin(id: Column, sk: Column, band: Column,
      k: Int, bands: Int, threshold: Double): Column =
    org.apache.spark.sql.GraftInterop.column(
      graft.sql.ChainPairsAgg(
        org.apache.spark.sql.GraftInterop.expression(id),
        org.apache.spark.sql.GraftInterop.expression(sk),
        org.apache.spark.sql.GraftInterop.expression(band),
        k, bands, threshold).toAggregateExpression())
  /** Bounded top-k of a group by score (ties by lower id), best-first
    * `array<struct<neighbor_id, score>>` — O(k) aggregation state, so it
    * is safe as a streaming update-mode aggregate.
    */
  def gr_topKByScore(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.GraftInterop.column(
      graft.sql.TopKByScoreAgg(
        org.apache.spark.sql.GraftInterop.expression(score),
        org.apache.spark.sql.GraftInterop.expression(id), k).toAggregateExpression())
  /** SpaceSaving heavy hitters: bounded-memory approximate top items of a
    * group — O(capacity) state, summaries (never the item stream) cross
    * the shuffle; `est - err <= true count <= est`, exact (err = 0) while
    * the group's distinct count stays within capacity.
    */
  def gr_heavyHitters(item: Column, capacity: Int): Column =
    org.apache.spark.sql.GraftInterop.column(
      graft.sql.SpaceSavingAgg(
        org.apache.spark.sql.GraftInterop.expression(item),
        capacity).toAggregateExpression())
  def gr_simhash64(text: Column): Column = fn("gr_simhash64", text)
  def gr_repetition(text: Column): Column = fn("gr_repetition", text)
  def gr_langId(text: Column): Column = fn("gr_lang_id", text)
  def gr_qualityScore(text: Column): Column = fn("gr_quality_score", text)
  def gr_fingerprint(text: Column, k: Column): Column = fn("gr_fingerprint", text, k)
  def gr_fingerprintMd5(text: Column, k: Column): Column = fn("gr_fingerprint_md5", text, k)
  def gr_md5Bucket(text: Column, n: Column): Column = fn("gr_md5_bucket", text, n)
  def gr_hash64(text: Column): Column = fn("gr_hash64", text)
  def gr_canonicalUrl(url: Column): Column = fn("gr_canonical_url", url)

  // ---------------------------------------------------- pipeline: vectors
  def gr_cosine(a: Column, b: Column): Column = fn("gr_cosine", a, b)
  def gr_dot(a: Column, b: Column): Column = fn("gr_dot", a, b)
  def gr_l2norm(a: Column): Column = fn("gr_l2norm", a)
  def gr_lshBucket(v: Column, bits: Column, seed: Column): Column =
    fn("gr_lsh_bucket", v, bits, seed)
  def gr_argmaxCosine(v: Column, cents: Column): Column = fn("gr_argmax_cosine", v, cents)
  def gr_pqEncode(v: Column, codebook: Column, m: Column): Column =
    fn("gr_pq_encode", v, codebook, m)
  def gr_pqAdc(q: Column, codes: Column, codebook: Column): Column =
    fn("gr_pq_adc", q, codes, codebook)
  def gr_l2normalize(v: Column): Column = fn("gr_l2normalize", v)
  def gr_topnCosine(v: Column, cents: Column, n: Column): Column =
    fn("gr_topn_cosine", v, cents, n)
  /** One-pass PCA co-moment sketch: [n, sums, upper-tri sum(x_i*x_j)]. */
  def gr_comoments(v: Column, dim: Int): Column =
    agg(CoMomentAgg(expr(v), dim))

  // ------------------------------------------------- pipeline: multimodal
  def gr_synthPng(srcBytes: Column): Column = fn("gr_synth_png", srcBytes)
  def gr_imageMeta(bin: Column): Column = fn("gr_image_meta", bin)
  def gr_imageResize(bin: Column, target: Column): Column = fn("gr_image_resize", bin, target)
  def gr_imageAhash(bin: Column): Column = fn("gr_image_ahash", bin)
  def gr_imageDhash(bin: Column): Column = fn("gr_image_dhash", bin)
  def gr_synthVideo(srcBytes: Column): Column = fn("gr_synth_video", srcBytes)
  def gr_synthWav(srcBytes: Column): Column = fn("gr_synth_wav", srcBytes)
  def gr_audioMeta(bin: Column): Column = fn("gr_audio_meta", bin)
  def gr_audioEnergy(bin: Column, nWindows: Column): Column =
    fn("gr_audio_energy", bin, nWindows)
  def gr_frameSample(bin: Column, targetFrames: Column): Column =
    fn("gr_frame_sample", bin, targetFrames)

  /** Generated classes Spark's codegen cache keeps once [[install]] has
    * sized it (Spark's default is 100). Spark keys the cache by class
    * loader and source, so in local mode the driver and the executors
    * each hold one entry per stage: at 100, every warm pass over a
    * 6-query benchmark list recompiled 17–89 classes; at 512, none
    * (PROFILE.md, "Codegen cache").
    */
  val CodegenCacheEntries = 512

  /** Register everything with the session so `spark.sql` can use the names.
    * Idempotent per session — re-installing would spam "function replaced"
    * warnings on every query construction.
    *
    * Also sizes Spark's generated-code cache: unless the SparkConf (or the
    * session) already sets `spark.sql.codegen.cache.maxEntries`, the
    * session's SQLConf gets [[CodegenCacheEntries]]. That key is a static
    * conf, so it is written through the session's `SQLConf` rather than
    * `spark.conf.set`, and Spark reads it only once per JVM, when
    * `CodeGenerator` first initializes (on the first compiled query). Call
    * `install` before the session runs its first query, as every engine
    * entry point does; a JVM that compiled code before it keeps the size
    * it started with. To choose another size, set the key in the SparkConf
    * (`--conf` or `-Dspark.sql.codegen.cache.maxEntries=N`).
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sessionState.conf
    val cacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!conf.contains(cacheKey)) conf.setConfString(cacheKey, CodegenCacheEntries.toString)
    // NTv2 runtime grid hook: a session conf pointing at a node-visible
    // directory of .gsb files makes `+nadgrids=<fileName>` records work
    // end-to-end (high-accuracy national-grid transforms instead of the
    // approximate Helmert). Eager driver-side registration fails fast on
    // a corrupt file; executors lazy-load via the propagated SQLConf.
    val ntv2Dir = spark.conf.get("spark.graft.crs.ntv2Dir", "")
    if (ntv2Dir.nonEmpty) {
      Ntv2.setGridDir(Some(ntv2Dir))
      Ntv2.registerDir(ntv2Dir)
    }
    // optimizer rules and planner strategies (idempotent by reference);
    // sessions built with spark.sql.extensions=graft.plans.GraftExtensions
    // get them natively
    val experimental = spark.experimental
    experimental.extraOptimizations ++=
      graft.plans.GraftExtensions.rules.filterNot(experimental.extraOptimizations.contains)
    experimental.extraStrategies ++=
      graft.plans.GraftExtensions.strategies.filterNot(experimental.extraStrategies.contains)
    val registry = spark.sessionState.functionRegistry
    if (registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("st_union_agg"))) return
    GraftDefs.all.keys.foreach { name =>
      registry.createOrReplaceTempFunction(name, exprs => GraftScalar(name, exprs), "built-in")
    }
    registry.createOrReplaceTempFunction("st_union_agg",
      exprs => StUnionAgg(exprs.head).toAggregateExpression(), "built-in")
    registry.createOrReplaceTempFunction("st_collect_agg",
      exprs => StCollectAgg(exprs.head).toAggregateExpression(), "built-in")
    registry.createOrReplaceTempFunction("st_envelope_agg",
      exprs => StEnvelopeAgg(exprs.head).toAggregateExpression(), "built-in")
    registry.createOrReplaceTempFunction("st_intersection_agg",
      exprs => StIntersectionAgg(exprs.head).toAggregateExpression(), "built-in")
  }
}

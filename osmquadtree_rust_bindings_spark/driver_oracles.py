"""DuckDB oracle SQL for every driver-contract query in driver_queries.py.

Each statement is self-contained ANSI-ish SQL over the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) and reimplements the PINNED semantics independently (different
formulation, same spec) so engine bugs can't hide in shared code — except
the coordinate/qt scalar math, which intentionally shares literal formula
text with the engine via functions.sqlgen (that's the contract: identical
keys, bit for bit).
"""

from __future__ import annotations

from osmquadtree_rust_bindings_spark import driver_queries as DQ
from osmquadtree_rust_bindings_spark.functions import sqlgen
from osmquadtree_rust_bindings_spark.operators.dedup import (
    MERSENNE_P,
    _hash_params,
)
from osmquadtree_rust_bindings_spark.operators.text import (
    BPE_PATTERN,
    LANG_PRIORITY,
    STOPWORDS,
)

PTS = f"({DQ.PTS_SQL})"
DUCK_WORD_HASH = "cast(('0x' || substring(md5({col}),1,15)) as bigint)"
MASK10 = -(1 << (63 - 2 * 10))
MASK7 = -(1 << (63 - 2 * 7))
HAV_K = "(pi() / 180 / 10000000.0)"


def _point_qt_sub() -> str:
    return f"({sqlgen.point_qt_sql(PTS, 'rowkey', 'lon', 'lat', 18)})"


def _le_double_hex(c: str) -> str:
    """16-hex-char little-endian IEEE-754 image of an INTEGER-valued
    double, from the bigint column ``c`` — pure integer SQL (no float
    ops, so bit-exact on any engine): exponent from the bit length,
    mantissa by exact shift, sign folded into the top nibble, then
    byte-reversed to little-endian."""
    a = f"abs({c})"
    e = f"(length(bin({a})) - 1)"
    bits = (f"((({e} + 1023)::BIGINT << 52) + "
            f"({a} * (1::BIGINT << (52 - {e})) - (1::BIGINT << 52)))")
    hexbe = (f"(to_hex(({bits} >> 60) + (CASE WHEN {c} < 0 THEN 8 ELSE 0 "
             f"END)) || substr(lpad(to_hex({bits}), 16, '0'), 2))")
    le = " || ".join(f"substr({hexbe}, {p}, 2)" for p in (15, 13, 11, 9,
                                                          7, 5, 3, 1))
    return f"(CASE WHEN {c} = 0 THEN '0000000000000000' ELSE {le} END)"


def _le_u32_hex(c: str) -> str:
    """8-hex-char little-endian uint32 image of integer column ``c``:
    byte-swap of lpad(to_hex(c), 8, '0').  Safe for ANY count value —
    the naive ``lpad(to_hex(n), 2, '0') || '000000'`` shortcut is only
    correct for n <= 255."""
    be = f"lpad(to_hex({c}), 8, '0')"
    return " || ".join(f"substr({be}, {p}, 2)" for p in (7, 5, 3, 1))


_M64 = "18446744073709551616"  # 2^64


def _xor64(a: str, b: str) -> str:
    """XOR of two HUGEINT exprs in [0, 2^64): DuckDB's xor() is
    BIGINT-only, so split into 32-bit halves (each half < 2^32 fits)."""
    return (f"((xor((({a}) // 4294967296)::BIGINT,"
            f" (({b}) // 4294967296)::BIGINT))::HUGEINT * 4294967296"
            f" + (xor((({a}) % 4294967296)::BIGINT,"
            f" (({b}) % 4294967296)::BIGINT))::HUGEINT)")


def _mul64(x: str, k: int) -> str:
    """(x * k) mod 2^64 for HUGEINT x in [0, 2^64) and a 64-bit constant,
    WITHOUT overflowing INT128 (x*k can reach 2^128): split k into 32-bit
    halves so each partial product stays under 2^96."""
    kh, kl = k >> 32, k & 0xFFFFFFFF
    t1 = f"((({x}) * {kl}::HUGEINT) % {_M64}::HUGEINT)"
    t2 = (f"((((({x}) * {kh}::HUGEINT) % 4294967296::HUGEINT))"
          f" * 4294967296::HUGEINT)")
    return f"(({t1} + {t2}) % {_M64}::HUGEINT)"


def _sm64(x: str) -> str:
    """splitmix64 (sources/images.py:_splitmix64) of a HUGEINT expr in
    [0, 2^64) — the fixture generators' shared bit mixer, replayed in
    pure integer SQL so the s11 oracle derives w/h/fmt/dither
    independently of the Python codecs."""
    s1 = f"((({x}) + 11400714819323198485::HUGEINT) % {_M64}::HUGEINT)"
    x1 = _xor64(s1, f"({s1} // 1073741824)")      # >> 30
    s2 = _mul64(x1, 0xBF58476D1CE4E5B9)
    x2 = _xor64(s2, f"({s2} // 134217728)")       # >> 27
    s3 = _mul64(x2, 0x94D049BB133111EB)
    return _xor64(s3, f"({s3} // 2147483648)")    # >> 31


def _values(pdf, cols) -> str:
    rows = ", ".join(
        "(" + ", ".join(str(int(r[c])) for c in cols) + ")"
        for _, r in pdf.iterrows())
    return f"(VALUES {rows})"


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["a1_count_fingerprint"] = f"""
SELECT cast(count(*) as bigint) AS num,
       min(rowkey) AS min_id, max(rowkey) AS max_id,
       min(lon) AS min_lon, max(lon) AS max_lon,
       min(lat) AS min_lat, max(lat) AS max_lat
FROM {PTS}"""

    o["a5_count_by_group"] = """
SELECT event_type, cast(count(*) as bigint) AS num,
       cast(min(event_id) as bigint) AS min_id,
       cast(max(event_id) as bigint) AS max_id
FROM events GROUP BY event_type"""

    # A4: the oracle cannot see Spark's partition layout, so it derives
    # the same layout-independent booleans the engine computes from its
    # real plan (driver_queries.q_a4_num_blocks) from the one fact SQL
    # shares: the table is non-empty.  A partition-enumeration regression
    # engine-side (0 blocks / phantom empty blocks / splits past the
    # file-size ceiling) flips an engine boolean and fails the hash.
    o["a4_num_blocks"] = """
SELECT (count(*) >= 1) AS num_blocks_ge_1,
       (count(*) >= 1) AS num_blocks_le_rows,
       (count(*) >= 1) AS num_blocks_le_split_ceiling
FROM lineitem"""

    o["a2_refs_stats"] = """
SELECT cast(count(*) as bigint) AS num,
       cast(sum(len(refs)) as bigint) AS num_refs,
       cast(max(len(refs)) as bigint) AS max_refs_len,
       cast(min(list_min(refs)) as bigint) AS min_ref,
       cast(max(list_max(refs)) as bigint) AS max_ref
FROM (SELECT l_orderkey, list(l_linenumber) AS refs
      FROM lineitem GROUP BY l_orderkey)"""

    # A3: independent formulation — per-order member COUNTS via left join
    # (the engine builds real arrays; only the stats must agree)
    o["a3_members_stats"] = """
WITH m AS (SELECT l_orderkey, count(*) AS n FROM lineitem
           WHERE l_linenumber >= 4 GROUP BY l_orderkey)
SELECT cast(count(*) as bigint) AS num,
       cast(sum(coalesce(n, 0)) as bigint) AS num_mems,
       cast(max(coalesce(n, 0)) as bigint) AS max_mems_len,
       cast(sum(CASE WHEN coalesce(n, 0) = 0 THEN 1 ELSE 0 END) as bigint)
         AS num_empties
FROM orders LEFT JOIN m ON o_orderkey = l_orderkey"""

    # S12: latest-wins + idset + bbox, replayed declaratively (the CASE
    # encodes which rows the change snapshot overrides)
    bx = DQ.BBOX_LIT
    o["s12_filtered_merge"] = f"""
WITH m AS (SELECT rowkey,
                  CASE WHEN rowkey % 3 = 0 THEN 2 ELSE 1 END AS version,
                  lon, lat
           FROM {PTS})
SELECT cast(rowkey as bigint) AS rowkey, cast(version as bigint) AS version,
       cast(lon as bigint) AS lon, cast(lat as bigint) AS lat
FROM m
WHERE rowkey % 2 = 0 AND lon BETWEEN {bx[0]} AND {bx[2]}
  AND lat BETWEEN {bx[1]} AND {bx[3]}"""

    # X14: independent decode — direct CASE over the mod index instead
    # of replaying the alias tables
    # x14/x13: enum codecs + the human size/duration formatters.  printf
    # here is C-style correct-rounding vs Java HALF_UP on the Spark side:
    # identical because the size is always odd, so num/1024^k can never
    # land on an exact .x5 decimal tie (ties need 256 | num), and
    # durations are whole seconds.
    sz = "((id * 2 + 1) * 977) % 4000000000"
    dur = "(id * 13) % 7200"
    o["x14_enum_codecs"] = f"""
WITH t AS (SELECT o_orderkey AS id, o_orderkey % 7 AS i FROM orders)
SELECT cast(id as bigint) AS id,
       CASE i WHEN 0 THEN 'normal' WHEN 1 THEN 'delete' WHEN 2 THEN 'remove'
              WHEN 3 THEN 'modify' WHEN 4 THEN 'unchanged' WHEN 5 THEN 'create'
              ELSE 'invalid' END AS changetype,
       CASE i WHEN 0 THEN 'node' WHEN 1 THEN 'way' WHEN 2 THEN 'relation'
              WHEN 3 THEN 'node' WHEN 4 THEN 'way' WHEN 5 THEN 'relation'
              ELSE 'invalid' END AS elementtype,
       CASE i WHEN 0 THEN 'n' WHEN 1 THEN 'w' WHEN 2 THEN 'r'
              WHEN 3 THEN 'n' WHEN 4 THEN 'w' WHEN 5 THEN 'r'
              ELSE '?' END AS et_short,
       CASE WHEN id % 31 = 0 THEN '??'
            WHEN {sz} < 1536 THEN printf('%6db', {sz})
            WHEN {sz} < 1572864 THEN printf('%6.1fkb', ({sz}) / 1024.0)
            WHEN {sz} < 1610612736
                 THEN printf('%6.1fMb', ({sz}) / 1048576.0)
            ELSE printf('%6.1fGb', ({sz}) / 1073741824.0) END AS size_s,
       CASE WHEN {dur} < 90
                 THEN printf('     %4.1fs', cast({dur} as double))
            ELSE printf('%4dm%4.1fs', ({dur}) // 60,
                        cast(({dur}) % 60 as double)) END AS dur_s
FROM t"""

    # F7 as-of read: snapshots 0 (all, v1) + 1 (rowkey%5==0, v2) are
    # visible at as_of=1, snapshot 2 (v3) is not; latest wins
    o["f7_asof_read"] = f"""
SELECT cast(rowkey as bigint) AS rowkey,
       cast(CASE WHEN rowkey % 5 = 0 THEN 2 ELSE 1 END as bigint)
         AS version,
       cast(lon as bigint) AS lon
FROM {PTS}"""

    # §2.8 streaming window rollup: tumbling 10-min windows are
    # floor-aligned epochs — replayable without any streaming machinery
    # s28 merged gate: windowed agg + the Bloom first-seen dedup.  The
    # bloom arm's oracle is the EXACT first-seen semantics (distinct keys
    # per group): the engine's fixed-size Bloom must reproduce it with
    # zero false positives at the configured capacity, so any fp breaks
    # the hash — that's the capacity assertion.
    o["s28_stream_window"] = """
SELECT 'window' AS kind,
       cast(floor(epoch(ts) / 600) * 600 as bigint) AS k1,
       event_type AS k2, cast(count(*) as bigint) AS n
FROM events GROUP BY 1, 2, 3
UNION ALL
SELECT 'bloom_first_seen' AS kind, cast(user_id % 8 as bigint) AS k1,
       '' AS k2, cast(count(DISTINCT user_id) as bigint) AS n
FROM events GROUP BY 1, 2, 3"""

    o["x7_time_rollup"] = """
SELECT cast(year(ts) * 100 + month(ts) as bigint) AS ym,
       cast(count(*) as bigint) AS num,
       cast(min(event_id) as bigint) AS min_id,
       strftime(min(ts), '%Y-%m-%d') AS first_d,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts_s
FROM events GROUP BY 1"""

    o["j3_merge_latest"] = """
SELECT cast(o_orderkey as bigint) AS o_orderkey,
       cast(max(version) as bigint) AS src
FROM (SELECT o_orderkey, 0 AS version FROM orders
      UNION ALL
      SELECT o_orderkey, 1 AS version FROM orders WHERE o_orderkey % 5 = 0)
GROUP BY o_orderkey"""

    o["j5_apply_changes"] = """
SELECT cast(o_orderkey as bigint) AS o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 2 <> 0
            THEN 'X-PRIORITY' ELSE o_orderpriority END AS o_orderpriority
FROM orders
WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 2 = 0)"""

    o["j6_diff_summary"] = """
WITH l AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
r AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0)
SELECT diff_class, cast(count(*) as bigint) AS num FROM (
  SELECT CASE WHEN r.o_orderkey IS NULL THEN 'only_left'
              WHEN l.o_orderkey IS NULL THEN 'only_right'
              WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice
                   THEN 'different_o_totalprice'
              WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                   THEN 'different_o_orderstatus'
              ELSE 'same' END AS diff_class
  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
GROUP BY diff_class"""

    x0, y0, x1, y1 = DQ.BBOX_LIT
    o["j1_semi_join_cascade"] = f"""
SELECT DISTINCT cast(o_orderkey as bigint) AS o_orderkey
FROM orders WHERE o_custkey IN (
  SELECT c_custkey FROM (
    SELECT c_custkey, {DQ.CUST_LON} AS lon, {DQ.CUST_LAT} AS lat
    FROM customer)
  WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1})"""

    o["j1b_exnodes"] = f"""
WITH sp AS (SELECT s_suppkey, {DQ.SUPP_LON} AS lon, {DQ.SUPP_LAT} AS lat
            FROM supplier),
inb AS (SELECT s_suppkey FROM sp
        WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1}),
sel AS (SELECT DISTINCT l_orderkey FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM inb))
SELECT DISTINCT cast(l_suppkey as bigint) AS pid
FROM lineitem
WHERE l_orderkey IN (SELECT l_orderkey FROM sel)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM inb)"""

    o["x1_point_qt"] = sqlgen.point_qt_sql(PTS, "rowkey", "lon", "lat", 18)

    boxes = f"""(SELECT rowkey,
  lon - halfw AS minlon, lat - halfh AS minlat,
  lon + halfw AS maxlon, lat + halfh AS maxlat FROM {PTS})"""
    o["x2_bbox_qt_depth_hist"] = f"""
SELECT cast(qt & 31 as bigint) AS depth, cast(count(*) as bigint) AS num
FROM ({sqlgen.bbox_qt_sql(boxes, 'rowkey', 'minlon', 'minlat',
                          'maxlon', 'maxlat')})
GROUP BY 1"""

    o["s14_tile_counts"] = f"""
SELECT ((qt & {MASK10}) | 10) AS tile, cast(count(*) as bigint) AS num
FROM {_point_qt_sub()} GROUP BY 1"""

    mask6 = -(1 << (63 - 2 * 6))
    tiles6 = (f"(SELECT DISTINCT ((qt & {mask6}) | 6) AS tile "
              f"FROM {_point_qt_sub()})")
    o["x5_tile_bbox"] = sqlgen.tile_bbox_sql(tiles6, "tile", 6, buffer=0.05)

    o["x10_geojson"] = sqlgen.geojson_bbox_sql(tiles6, "tile", 6,
                                               buffer=0.05)

    o["x1b_qt_views"] = sqlgen.qt_views_sql(tiles6, "tile", 6)

    # independent formulation: window lag per way vs the engine's array
    # fold; elen uses the SAME mercator fragment text (that's the contract)
    # then an independent floor(sqrt(dx^2+dy^2)) per segment
    o["j7_line_assembly"] = f"""
WITH n AS (SELECT rowkey // 8 AS way_id, rowkey % 8 AS pos, lon, lat,
                  {sqlgen.merc_x_expr('lon')} AS mx,
                  {sqlgen.merc_y_expr('lat')} AS my
           FROM {PTS}),
d AS (SELECT way_id, pos,
             abs(lon - lag(lon) OVER w) + abs(lat - lag(lat) OVER w) AS seg,
             cast(floor(sqrt(cast(
               (mx - lag(mx) OVER w) * (mx - lag(mx) OVER w)
               + (my - lag(my) OVER w) * (my - lag(my) OVER w)
             as double))) as bigint) AS seg_e
      FROM n WINDOW w AS (PARTITION BY way_id ORDER BY pos))
SELECT cast(way_id as bigint) AS way_id,
       cast(count(*) as bigint) AS npts,
       cast(coalesce(sum(seg), 0) as bigint) AS mlen,
       cast(coalesce(sum(seg_e), 0) as bigint) AS elen
FROM d GROUP BY way_id"""

    o["x9_feature_bounds"] = f"""
SELECT cast(rowkey // 8 as bigint) AS way_id,
       min(lon) AS minlon, min(lat) AS minlat,
       max(lon) AS maxlon, max(lat) AS maxlat
FROM {PTS} GROUP BY 1"""

    # §2.7 LCA rollup: prefix-match depth = sum of 18 independent masked
    # equality tests on (min, max) per group (monotone, same trick as the
    # engine's Column descent), then a dynamic-depth round
    lca_terms = " + ".join(
        f"(CASE WHEN (mn & {-(1 << (63 - 2 * k))}) = "
        f"(mx & {-(1 << (63 - 2 * k))}) THEN 1 ELSE 0 END)"
        for k in range(1, 19))
    o["x_qt_common_rollup"] = f"""
WITH g AS (SELECT rowkey // 8 AS way_id, min(qt) AS mn, max(qt) AS mx
           FROM {_point_qt_sub()} GROUP BY 1),
d AS (SELECT way_id, mn, ({lca_terms}) AS cd FROM g)
SELECT cast(way_id as bigint) AS way_id,
       CASE WHEN cd = 0 THEN 0
            ELSE (mn & (-(cast(1 as bigint) << (63 - 2 * cd)))) | cd
       END AS qt_group
FROM d"""

    # A10/A11 invariant gates: the bin-packed plan itself is driver-side,
    # but its contracts are oracle-checkable — weights partition the
    # corpus (count recomputed here), no non-root group > 2x target, and
    # the assignment is the longest prefix (violation counts pinned 0)
    o["a10_plan_invariants"] = f"""
SELECT cast(count(*) as bigint) AS num_points,
       cast(count(*) as bigint) AS total_weight,
       cast(0 as bigint) AS num_oversize
FROM {PTS}"""

    o["a11_assign_invariants"] = f"""
SELECT cast(count(*) as bigint) AS num_points,
       cast(0 as bigint) AS bad_prefix,
       cast(0 as bigint) AS not_longest
FROM {PTS}"""

    o["x8_mercator"] = sqlgen.mercator_xy_sql(PTS, "rowkey", "lon", "lat")

    # J8: the multipolygon fixture is rectangles, so every ring's stats
    # have a closed form per relation id — an INDEPENDENT derivation of
    # the graph walk's output.  Outer ring: 4 ways, walk starts at member
    # way 0, which is stored reversed iff r % 3 == 0 (flipping traversal
    # to clockwise -> negative shoelace, and adding way 3 as the second
    # reversed way); inner ring: 2 ways, CCW either way, second way
    # stored reversed iff r is even.
    o["j8_multipolygon_assembly"] = """
WITH r AS (SELECT range AS r FROM range(0, 200)),
p AS (SELECT r, (2 + r % 5) * 10000000 AS w,
             (1 + r % 3) * 10000000 AS h FROM r)
SELECT cast(r as bigint) AS rel_id, 'outer' AS role,
       cast(0 as bigint) AS ring_idx, cast(4 as bigint) AS nways,
       cast(5 as bigint) AS npts, true AS closed,
       cast(CASE WHEN r % 3 = 0 THEN -2 * w * h
                 ELSE 2 * w * h END as bigint) AS area2,
       cast(CASE WHEN r % 3 = 0 THEN 2 ELSE 1 END as bigint) AS nreversed
FROM p
UNION ALL
SELECT cast(r as bigint), 'inner', cast(0 as bigint), cast(2 as bigint),
       cast(5 as bigint), true,
       cast(2 * (w // 2) * (h // 2) as bigint),
       cast(CASE WHEN r % 2 = 0 THEN 1 ELSE 0 END as bigint)
FROM p"""

    o["x10b_point_geojson"] = sqlgen.feature_point_geojson_sql(
        PTS, "rowkey", "lon", "lat")

    # linestring features: independent string_agg formulation; only the
    # fixed7 coordinate text is shared
    fx, fy = sqlgen.fixed7_expr("lon"), sqlgen.fixed7_expr("lat")
    o["x10c_linestring_geojson"] = f"""
WITH n AS (SELECT rowkey // 8 AS way_id, rowkey % 8 AS pos, lon, lat
           FROM {PTS}),
v AS (SELECT way_id, pos,
             '[' || {fx} || ',' || {fy} || ']' AS coord FROM n),
a AS (SELECT way_id, string_agg(coord, ',' ORDER BY pos) AS body
      FROM v GROUP BY way_id)
SELECT cast(way_id as bigint) AS way_id,
       '{{"type":"Feature","properties":{{"id":' || cast(way_id as string)
       || '}},"geometry":{{"type":"LineString","coordinates":[' || body
       || ']}}}}' AS geojson
FROM a"""

    # X11 EWKB hex: header = byte-order 01, type 0x20000001 LE, srid 3857
    # LE ('110F0000'); coordinate doubles are integer-valued (mercator
    # ints, scale=1.0) so _le_double_hex reconstructs their IEEE bytes
    # with pure integer SQL
    o["x11_wkb_point"] = f"""
WITH m AS (SELECT rowkey, {sqlgen.merc_x_expr('lon')} AS mx,
                  {sqlgen.merc_y_expr('lat')} AS my FROM {PTS})
SELECT cast(rowkey as bigint) AS id,
       '0101000020110F0000' || {_le_double_hex('mx')}
         || {_le_double_hex('my')} AS wkb_hex
FROM m"""

    o["x11_wkb_line"] = f"""
WITH n AS (SELECT rowkey // 8 AS way_id, rowkey % 8 AS pos,
                  {sqlgen.merc_x_expr('lon')} AS mx,
                  {sqlgen.merc_y_expr('lat')} AS my FROM {PTS}),
v AS (SELECT way_id, pos,
             {_le_double_hex('mx')} || {_le_double_hex('my')} AS vh
      FROM n),
a AS (SELECT way_id, count(*) AS npts,
             string_agg(vh, '' ORDER BY pos) AS body
      FROM v GROUP BY way_id)
SELECT cast(way_id as bigint) AS way_id,
       '0102000020110F0000' || {_le_u32_hex('npts')}
         || body AS wkb_hex
FROM a"""

    # X11 polygon: type 3 + srid flag, nrings=1, ring auto-closed by
    # appending the first vertex (way coords are always distinct)
    o["x11_wkb_poly"] = f"""
WITH n AS (SELECT rowkey // 8 AS way_id, rowkey % 8 AS pos,
                  {sqlgen.merc_x_expr('lon')} AS mx,
                  {sqlgen.merc_y_expr('lat')} AS my FROM {PTS}),
v AS (SELECT way_id, pos,
             {_le_double_hex('mx')} || {_le_double_hex('my')} AS vh
      FROM n),
a AS (SELECT way_id,
             count(*) + CASE WHEN arg_min(vh, pos) = arg_max(vh, pos)
                             THEN 0 ELSE 1 END AS npts,
             string_agg(vh, '' ORDER BY pos)
               || CASE WHEN arg_min(vh, pos) = arg_max(vh, pos)
                       THEN '' ELSE arg_min(vh, pos) END AS body
      FROM v GROUP BY way_id)
SELECT cast(way_id as bigint) AS way_id,
       '0103000020110F000001000000' || {_le_u32_hex('npts')}
         || body AS wkb_hex
FROM a"""

    # X16 render attrs: independent CASE decode of the same partkey-mod
    # tag construction against the PINNED default style/minzoom tables
    o["x16_style_attrs"] = """
WITH t AS (SELECT p_partkey AS id, p_partkey % 5 AS mode,
                  p_partkey % 9 AS hwi, p_partkey % 4 AS wwi,
                  p_partkey % 7 - 3 AS lyr, p_partkey % 2 AS hasl
           FROM part)
SELECT cast(id as bigint) AS id,
       cast(CASE WHEN hasl = 1 THEN lyr ELSE 0 END as bigint) AS layer,
       cast(CASE WHEN mode = 0 THEN
                   CASE hwi WHEN 0 THEN 380 WHEN 1 THEN 370 WHEN 2 THEN 360
                            WHEN 3 THEN 350 WHEN 4 THEN 340 WHEN 5 THEN 330
                            WHEN 6 THEN 330 WHEN 7 THEN 150 ELSE 0 END
                 WHEN mode = 1 THEN
                   CASE wwi WHEN 0 THEN 120 WHEN 1 THEN 120 WHEN 2 THEN 60
                            ELSE 0 END
                 ELSE 0 END as bigint) AS z_order,
       cast(CASE WHEN mode = 0 THEN
                   CASE hwi WHEN 0 THEN 5 WHEN 1 THEN 6 WHEN 2 THEN 7
                            WHEN 3 THEN 9 WHEN 4 THEN 10 WHEN 5 THEN 12
                            WHEN 6 THEN 12 WHEN 7 THEN 14 ELSE -1 END
                 WHEN mode = 1 THEN
                   CASE wwi WHEN 0 THEN 8 WHEN 1 THEN 11 WHEN 2 THEN 13
                            ELSE -1 END
                 WHEN mode = 2 THEN 13 WHEN mode = 3 THEN 10
                 ELSE -1 END as bigint) AS minzoom
FROM t"""

    o["x7b_date_string"] = """
SELECT cast(event_id as bigint) AS event_id,
       strftime(ts, '%Y-%m-%d') AS d,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events"""

    o["s13_ordered_rank"] = f"""
SELECT rowkey, ((qt & {MASK10}) | 10) AS tile,
       cast(row_number() OVER (PARTITION BY ((qt & {MASK10}) | 10)
                               ORDER BY qt, rowkey) as bigint) AS rk
FROM {_point_qt_sub()}"""

    x4lo, x4hi = sqlgen.qt_key_range(DQ._X4_PREFIX)
    o["x4_prefix_range_count"] = f"""
SELECT cast(count(*) as bigint) AS num,
       min(rowkey) AS min_id, max(rowkey) AS max_id
FROM {_point_qt_sub()}
WHERE qt BETWEEN {x4lo} AND {x4hi}"""

    # integer-quantized cosine near-dup (same exact predicate as the engine:
    # dot > 0 AND dot^2*den^2 >= num^2*|a|^2*|b|^2, num/den = 3/10)
    o["dedup_embedding_cosine"] = """
WITH q AS (
  SELECT vec_id, list_transform(embedding,
         e -> cast(floor(cast(e AS double) * 1000) AS bigint)) AS v
  FROM embeddings
), u AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM q
), d AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS dot
  FROM u a JOIN u b USING (i) GROUP BY 1, 2
)
SELECT cast(p.ia as bigint) AS id_a, cast(p.ib as bigint) AS id_b,
       cast(p.dot as bigint) AS dot
FROM d p
JOIN d na ON na.ia = p.ia AND na.ib = p.ia
JOIN d nb ON nb.ia = p.ib AND nb.ib = p.ib
WHERE p.ia < p.ib AND p.dot > 0
  AND p.dot * p.dot * 100 >= 9 * na.dot * nb.dot"""

    # banded-LSH near-dup: replay the identical banding (bands=4, ppb=6,
    # plane j = band*6 + r with the shared deterministic coefficients),
    # candidates = any-band collision, verify = same integer predicate
    ppb, nbands = 6, 4
    band_exprs = []
    for b_ in range(nbands):
        bits = [str(b_ * (1 << ppb))]
        for r_ in range(ppb):
            j_ = b_ * ppb + r_
            coeff = (f"((({j_} * 31 + (i - 1) * 17 + ({j_} * (i - 1)) % 11)"
                     f" % 7) - 3)")
            bits.append(
                f"CASE WHEN list_sum(list_transform(range(1, 65), "
                f"i -> v[i] * {coeff})) > 0 THEN {1 << r_} ELSE 0 END")
        band_exprs.append("(" + " + ".join(bits) + ")")
    o["dedup_embedding_cosine_lsh"] = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding,
         e -> cast(floor(cast(e AS double) * 1000) AS bigint)) AS v
  FROM embeddings
), keyed AS (
  SELECT vec_id, v, unnest([{', '.join(band_exprs)}]) AS bkey FROM q
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b USING (bkey) WHERE a.vec_id < b.vec_id
), verified AS (
  SELECT c.id_a, c.id_b,
         cast(list_sum(list_transform(range(1, 65),
              i -> va.v[i] * vb.v[i])) as bigint) AS dot,
         cast(list_sum(list_transform(range(1, 65),
              i -> va.v[i] * va.v[i])) as bigint) AS na,
         cast(list_sum(list_transform(range(1, 65),
              i -> vb.v[i] * vb.v[i])) as bigint) AS nb
  FROM cand c
  JOIN q va ON va.vec_id = c.id_a
  JOIN q vb ON vb.vec_id = c.id_b
)
SELECT cast(id_a as bigint) AS id_a, cast(id_b as bigint) AS id_b,
       cast(dot as bigint) AS dot
FROM verified WHERE dot > 0 AND dot * dot * 100 >= 9 * na * nb"""

    o["j12_raster_vector"] = f"""
SELECT DISTINCT ((qt & {MASK10}) | 10) AS qt_raster,
                ((qt & {MASK7}) | 7) AS cell
FROM {_point_qt_sub()}"""

    qb = _values(DQ._bbox_queries(),
                 ["qid", "minlon", "minlat", "maxlon", "maxlat"])
    j11_single = f"""
SELECT cast(q.qid as bigint) AS qid, cast(p.rowkey as bigint) AS rowkey
FROM {PTS} p, {qb} q(qid, minlon, minlat, maxlon, maxlat)
WHERE p.lon >= q.minlon AND p.lon <= q.maxlon
  AND p.lat >= q.minlat AND p.lat <= q.maxlat"""
    o["j11_bbox_join"] = (
        f"SELECT 'batch' AS form, qid, rowkey FROM ({j11_single})")

    # PIP: convex CCW polygons -> strict half-plane conjunction (double math)
    parts = []
    for r in DQ._polygons().itertuples(index=False):
        vx, vy = list(r.verts_lon), list(r.verts_lat)
        conds = []
        nv = len(vx)
        for i in range(nv):
            x1_, y1_ = vx[i], vy[i]
            x2_, y2_ = vx[(i + 1) % nv], vy[(i + 1) % nv]
            conds.append(
                f"(cast({x2_ - x1_} as double) * cast(p.lat - {y1_} as double)"
                f" - cast({y2_ - y1_} as double) * cast(p.lon - {x1_} as double)) > 0")
        parts.append(
            f"SELECT '{r.poly_id}' AS poly_id, cast(p.rowkey as bigint) AS rowkey "
            f"FROM {PTS} p WHERE " + " AND ".join(conds))
    j9_single = "\nUNION ALL\n".join(parts)
    o["j9_pip_join"] = (
        f"SELECT 'batch' AS form, poly_id, rowkey FROM ({j9_single})")

    kq = _values(DQ._knn_queries(), ["qid", "lon", "lat", "k"])
    o["j10_knn_join"] = f"""
WITH d AS (
  SELECT q.qid, p.rowkey, q.k,
         2 * 6371000.0 * asin(sqrt(least(
           pow(sin((p.lat - q.qlat) * {HAV_K} / 2), 2)
           + cos(q.qlat * {HAV_K}) * cos(p.lat * {HAV_K})
             * pow(sin((p.lon - q.qlon) * {HAV_K} / 2), 2), 1.0))) AS dist
  FROM {PTS} p, {kq} q(qid, qlon, qlat, k))
SELECT cast(qid as bigint) AS qid, cast(rank as bigint) AS rank,
       cast(rowkey as bigint) AS rowkey
FROM (SELECT qid, rowkey, k,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist ASC, rowkey ASC) AS rank
      FROM d)
WHERE rank <= k"""

    o["f8_idset_semi_join"] = """
SELECT cast(user_id as bigint) AS user_id,
       cast(count(*) as bigint) AS n,
       cast(min(event_id) as bigint) AS min_id
FROM events
WHERE user_id IN (SELECT user_id FROM events
                  GROUP BY user_id HAVING count(*) >= 5)
GROUP BY user_id"""

    o["dedup_exact"] = """
SELECT md5(text) AS content_md5,
       cast(min(doc_id) as bigint) AS keep_id,
       cast(count(*) as bigint) AS dups
FROM documents GROUP BY 1"""

    shingle_cte = """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                  range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS shingle
       FROM ws),
sizes AS (SELECT doc_id, cast(count(*) as bigint) AS nsh
          FROM sh GROUP BY doc_id)"""

    # same max_df=40 hot-shingle cap as the engine: Jaccard over the
    # capped shingle space (sizes AND intersections)
    o["dedup_ngram_jaccard"] = """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS shingle
        FROM ws),
sh AS (SELECT doc_id, shingle FROM sh0
       QUALIFY count(*) OVER (PARTITION BY shingle) <= 40),
sizes AS (SELECT doc_id, cast(count(*) as bigint) AS nsh
          FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 cast(count(*) as bigint) AS inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT cast(id_a as bigint) AS id_a, cast(id_b as bigint) AS id_b,
       inter, (sa.nsh + sb.nsh - inter) AS union_sz
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1000 >= 200 * (sa.nsh + sb.nsh - inter)"""

    # minhash: replay signatures + banding + verification in SQL
    params = _hash_params(8)
    mh_cols = ", ".join(
        f"min((((h % 2147483647) * {a}) + {b}) % {MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(params))
    band_keys = []
    rows_per_band = 8 // 4
    for b in range(4):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        concat = " || '_' || ".join(f"cast({c} as varchar)" for c in cols)
        band_keys.append(f"SELECT doc_id, '{b}' || '_' || {concat} AS bucket "
                         f"FROM sig")
    o["dedup_minhash_lsh"] = shingle_cte + f""",
hashed AS (SELECT doc_id, {DUCK_WORD_HASH.format(col='shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
buckets AS ({' UNION ALL '.join(band_keys)}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM buckets a JOIN buckets b USING (bucket)
         WHERE a.doc_id < b.doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 cast(count(*) as bigint) AS inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT cast(c.id_a as bigint) AS id_a, cast(c.id_b as bigint) AS id_b,
       i.inter, (sa.nsh + sb.nsh - i.inter) AS union_sz
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE i.inter * 1000 >= 200 * (sa.nsh + sb.nsh - i.inter)"""

    sums = ", ".join(
        f"sum((((h >> {b}) & 1) * 2 - 1)) AS s{b}" for b in range(16))
    packs = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
    o["dedup_simhash"] = f"""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
hashed AS (SELECT doc_id, {DUCK_WORD_HASH.format(col='w')} AS h FROM words),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT cast(doc_id as bigint) AS doc_id,
       cast({packs} as bigint) AS simhash
FROM sums"""

    def stop_list(lang):
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    def hits(lang):
        return (f"len(list_intersect(list_distinct(string_split(text, ' ')), "
                f"{stop_list(lang)}))")

    stop_greatest = "greatest(" + ", ".join(
        hits(lang) for lang in LANG_PRIORITY) + ")"
    o["text_quality"] = f"""
SELECT cast(doc_id as bigint) AS doc_id,
       cast(len(string_split(text, ' ')) as bigint) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '{BPE_PATTERN}', 0)) as bigint)
         AS n_bpe_tokens,
       cast({stop_greatest} as bigint) AS stop_hits,
       cast(len(regexp_extract_all(text, '{BPE_PATTERN}', 0))
            - len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+', 0)) as bigint)
         AS n_symbols,
       (len(string_split(text, ' ')) >= 5
        AND len(string_split(text, ' ')) <= 100000
        AND {stop_greatest} >= 1
        AND (len(regexp_extract_all(text, '{BPE_PATTERN}', 0))
             - len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+', 0))) * 10
            <= len(regexp_extract_all(text, '{BPE_PATTERN}', 0)) * 3)
         AS is_quality
FROM documents"""

    h_en, h_es, h_fr = (hits(lang) for lang in LANG_PRIORITY)
    o["text_langid"] = f"""
SELECT cast(doc_id as bigint) AS doc_id,
       CASE WHEN {h_en} >= {h_es} AND {h_en} >= {h_fr} AND {h_en} > 0
            THEN 'en'
            WHEN {h_es} >= {h_fr} AND {h_es} > 0 THEN 'es'
            WHEN {h_fr} > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM documents"""

    o["text_fingerprint"] = f"""
WITH RECURSIVE ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
expl AS (SELECT doc_id, len(w) AS n, unnest(w) AS word,
                unnest(range(1, len(w) + 1)) AS pos
         FROM ws),
pows(e, v) AS (
  SELECT 0, cast(1 as bigint)
  UNION ALL
  SELECT e + 1, (v * 31) % 2147483647 FROM pows
  WHERE e < (SELECT max(n) FROM expl)),
terms AS (SELECT doc_id,
                 (({DUCK_WORD_HASH.format(col='word')} % 2147483647)
                  * p.v) % 2147483647 AS term
          FROM expl JOIN pows p ON p.e = expl.n - expl.pos)
SELECT cast(doc_id as bigint) AS doc_id,
       cast(sum(term) % 2147483647 as bigint) AS fingerprint
FROM terms GROUP BY doc_id"""

    o["ann_l2_topk"] = """
WITH e AS (SELECT vec_id, list_transform(embedding,
             x -> cast(floor(cast(x as double) * 1000) as bigint)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
scored AS (SELECT q.qid, e.vec_id,
                  cast(list_sum(list_transform(range(1, len(e.v) + 1),
                       i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])))
                       as bigint) AS dist2
           FROM e CROSS JOIN q)
SELECT cast(qid as bigint) AS qid, cast(rank as bigint) AS rank,
       cast(vec_id as bigint) AS vec_id, dist2
FROM (SELECT qid, vec_id, dist2,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist2 ASC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 10"""

    dots = []
    for j in range(8):
        coeff = (f"((({j} * 31 + (i - 1) * 17 + ({j} * (i - 1)) % 11) % 7)"
                 f" - 3)")
        dots.append(
            f"CASE WHEN list_sum(list_transform(range(1, len(v) + 1), "
            f"i -> v[i] * {coeff})) > 0 THEN {1 << j} ELSE 0 END")
    o["ann_lsh_bucket_hist"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding,
             x -> cast(floor(cast(x as double) * 1000) as bigint)) AS v
           FROM embeddings),
b AS (SELECT vec_id, ({' + '.join(dots)}) AS bucket FROM e)
SELECT cast(bucket as bigint) AS bucket,
       cast(count(*) as bigint) AS num,
       cast(min(vec_id) as bigint) AS min_id
FROM b GROUP BY bucket"""

    o["ann_cosine_topk"] = """
WITH e AS (SELECT vec_id, list_transform(embedding,
             x -> cast(floor(cast(x as double) * 1000) as bigint)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
s AS (SELECT q.qid, e.vec_id,
        cast(list_sum(list_transform(range(1, 65),
             i -> e.v[i] * q.qv[i])) as bigint) AS dot,
        cast(list_sum(list_transform(range(1, 65),
             i -> e.v[i] * e.v[i])) as bigint) AS na,
        cast(list_sum(list_transform(range(1, 65),
             i -> q.qv[i] * q.qv[i])) as bigint) AS nb
      FROM e CROSS JOIN q),
sc AS (SELECT qid, vec_id,
         cast(sign(dot) as bigint)
         * cast(floor(1000000.0 * cast(dot as double) * cast(dot as double)
                      / (cast(na as double) * cast(nb as double)))
                as bigint) AS score
       FROM s)
SELECT cast(qid as bigint) AS qid, cast(rank as bigint) AS rank,
       cast(vec_id as bigint) AS vec_id, cast(score as bigint) AS score
FROM (SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id ASC) AS rank
      FROM sc)
WHERE rank <= 10"""

    # multi-probe LSH: same plane-coefficient formula as the bucket hist,
    # margins encoded |dot|*8+j, flips via xor with 2^j
    dcols = []
    for j in range(8):
        coeff = (f"((({j} * 31 + (i - 1) * 17 + ({j} * (i - 1)) % 11) % 7)"
                 f" - 3)")
        dcols.append(
            f"cast(list_sum(list_transform(range(1, 65), "
            f"i -> v[i] * {coeff})) as bigint) AS d{j}")
    bucket8 = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(8))
    margins8 = ", ".join(f"abs(d{j}) * 8 + {j}" for j in range(8))
    flip_case = " ".join(
        f"WHEN {j} THEN {1 << j}" for j in range(8))
    o["ann_lsh_multiprobe"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding,
             x -> cast(floor(cast(x as double) * 1000) as bigint)) AS v
           FROM embeddings),
d AS (SELECT vec_id, v, {', '.join(dcols)} FROM e),
b AS (SELECT vec_id, v, ({bucket8}) AS bucket,
             [{margins8}] AS margins FROM d),
qp AS (SELECT vec_id AS qid, v AS qv,
              unnest(list_distinct(list_prepend(bucket,
                list_transform(list_slice(list_sort(margins), 1, 2),
                  x -> xor(bucket, cast(CASE x % 8 {flip_case} END
                                        as bigint)))))) AS bucket
       FROM b WHERE vec_id < 3),
scored AS (SELECT qp.qid, b.vec_id,
                  cast(list_sum(list_transform(range(1, 65),
                       i -> (b.v[i] - qp.qv[i]) * (b.v[i] - qp.qv[i])))
                       as bigint) AS dist2
           FROM b JOIN qp USING (bucket))
SELECT cast(qid as bigint) AS qid, cast(rank as bigint) AS rank,
       cast(vec_id as bigint) AS vec_id, dist2
FROM (SELECT qid, vec_id, dist2,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist2 ASC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 10"""

    from osmquadtree_rust_bindings_spark.operators.similarity import centroids
    cent_rows = ", ".join(
        f"({c}, [{', '.join(str(x) for x in cent)}])"
        for c, cent in enumerate(centroids(8, 64)))
    o["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding,
             x -> cast(floor(cast(x as double) * 1000) as bigint)) AS v
           FROM embeddings),
cents AS (SELECT * FROM (VALUES {cent_rows}) t(c, cent)),
d AS (SELECT e.vec_id, e.v, cents.c,
             cast(list_sum(list_transform(range(1, 65),
                  i -> (e.v[i] - cents.cent[i]) * (e.v[i] - cents.cent[i])))
                  as bigint) AS dist,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY cast(list_sum(list_transform(
                                  range(1, 65), i -> (e.v[i] - cents.cent[i])
                                  * (e.v[i] - cents.cent[i]))) as bigint) ASC,
                                cents.c ASC) AS rn
      FROM e CROSS JOIN cents),
ecell AS (SELECT vec_id, v, c AS cell FROM d WHERE rn = 1),
qp AS (SELECT vec_id AS qid, v AS qv, c AS cell FROM d
       WHERE vec_id < 4 AND rn <= 2),
scored AS (SELECT qp.qid, ecell.vec_id,
                  cast(list_sum(list_transform(range(1, 65),
                       i -> (ecell.v[i] - qp.qv[i])
                       * (ecell.v[i] - qp.qv[i]))) as bigint) AS dist2
           FROM ecell JOIN qp USING (cell))
SELECT cast(qid as bigint) AS qid, cast(rank as bigint) AS rank,
       cast(vec_id as bigint) AS vec_id, dist2
FROM (SELECT qid, vec_id, dist2,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist2 ASC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 10"""

    # the prebuilt-index variant returns the identical result set
    o["ann_ivf_prebuilt"] = o["ann_ivf_topk"]

    # ---------------- merged gates (the driver checks at most 50 entries):
    # compose the single-operator oracles exactly the way the Spark gates
    # compose the single-operator queries, then retire the singles.

    o["x1_point_qt"] = f"""
WITH q AS ({o['x1_point_qt']}), m AS ({o['x8_mercator']})
SELECT q.rowkey, q.qt, m.mx, m.my FROM q JOIN m ON q.rowkey = m.rowkey"""

    o["x5_tile_views"] = f"""
SELECT b.tile, b.minlon, b.maxlon, b.minlat, b.maxlat,
       v.z, v.x, v.y, v.qt_str
FROM ({o['x5_tile_bbox']}) b
JOIN ({o['x1b_qt_views']}) v ON b.tile = v.tile"""

    o["x10_geojson"] = f"""
SELECT 'cell' AS kind, cast(tile as bigint) AS id, geojson
FROM ({o['x10_geojson']})
UNION ALL
SELECT 'point' AS kind, cast(rowkey as bigint) AS id, geojson
FROM ({o['x10b_point_geojson']})
UNION ALL
SELECT 'line' AS kind, cast(way_id as bigint) AS id, geojson
FROM ({o['x10c_linestring_geojson']})"""

    o["x11_wkb"] = f"""
SELECT 'point' AS kind, cast(id as bigint) AS id, wkb_hex
FROM ({o['x11_wkb_point']})
UNION ALL
SELECT 'line' AS kind, cast(way_id as bigint) AS id, wkb_hex
FROM ({o['x11_wkb_line']})
UNION ALL
SELECT 'poly' AS kind, cast(way_id as bigint) AS id, wkb_hex
FROM ({o['x11_wkb_poly']})"""

    o["text_analysis"] = f"""
SELECT q.doc_id, q.n_ws_tokens, q.n_bpe_tokens, q.stop_hits, q.n_symbols,
       q.is_quality, l.lang_pred, f.fingerprint
FROM ({o['text_quality']}) q
JOIN ({o['text_langid']}) l ON q.doc_id = l.doc_id
JOIN ({o['text_fingerprint']}) f ON q.doc_id = f.doc_id"""

    o["ann_brute_topk"] = f"""
SELECT 'l2' AS kind, qid, rank, vec_id, dist2 AS val
FROM ({o['ann_l2_topk']})
UNION ALL
SELECT 'cosine' AS kind, qid, rank, vec_id, score AS val
FROM ({o['ann_cosine_topk']})"""

    # S11 modalities: the decoded-feature stats re-derived ANALYTICALLY
    # from the generator specs (sources/images.py gen_pixels,
    # sources/audio.py gen_samples, sources/video.py gen_frames) — the
    # oracle never touches the binary payloads, so a codec bug on either
    # encode or decode side breaks the hash.
    #
    # image: the lossy codec quantizes pix//4 then dequantizes *4+2, so
    # the per-pixel error is ((v mod 4) - 2) and v mod 4 =
    # (i + c + 3x + y + ((i>>c)&3)*x*y) mod 4 depends only on (x mod 4,
    # y mod 4) — and w, h are multiples of 4, so MSE = S/48 where S is
    # the 48-term residue sum, INDEPENDENT of image size.  numpy computes
    # sse/npix = (w*h/16*S)/(w*h*3); IEEE division is correctly rounded
    # and the exact quotients are equal, so both engines produce the
    # identical double, and floor(10*log10(65025/mse)*100) agrees (log10
    # is the same libm call on this box; a disagreement would need
    # psnr*100 within ~1 ulp of an integer).  fmt comes from the replayed
    # splitmix64.  c1 counts png (exact by losslessness) + jpeg with
    # psnr >= 40; c2 = caption equality (same formula both sides) = n.
    img_u = _sm64("(xor(i, 42))::HUGEINT")
    # audio: tone = trunc(8000*sin(2*pi*f1*t/16000) + 4000*sin(...)) +
    # splitmix dither - 128, clipped; SQL replays the identical
    # left-associated double expression (same libm sin on this box).
    aud_dither = _sm64("((t.t + c.i * 1000003))::HUGEINT")
    # video: pixel value of frame-seed s at (x, y, c) is
    # ((s*61 + c*97) % 256 + 31x + 17y + ((s>>c)&7)*x*y) % 256; luma and
    # |frame_f - frame_{f-1}| are integer sums of that closed form.
    vpix = ("((((({s}) * 61 + c.c * 97) % 256) + 31 * x.x + 17 * y.y"
            " + ((({s}) // (1 << c.c)) % 8) * x.x * y.y) % 256)")
    o["s11_modalities"] = f"""
WITH imgs AS (
  SELECT i, {img_u} AS u
  FROM (SELECT unnest(generate_series(0, 1999)) AS i)
),
fmts AS (SELECT i, ((u // 16) % 10) < 8 AS is_png FROM imgs),
iterms AS (
  SELECT f.i,
         sum((((f.i + c.c + 3*a.a + b.b
                + (((f.i // (1 << c.c)) % 8) % 4) * a.a * b.b) % 4) - 2)
             * (((f.i + c.c + 3*a.a + b.b
                + (((f.i // (1 << c.c)) % 8) % 4) * a.a * b.b) % 4) - 2))
         AS s
  FROM fmts f,
       (SELECT unnest(generate_series(0, 3)) AS a) a,
       (SELECT unnest(generate_series(0, 3)) AS b) b,
       (SELECT unnest(generate_series(0, 2)) AS c) c
  WHERE NOT f.is_png
  GROUP BY f.i
),
jpeg_psnr AS (
  SELECT i, CASE WHEN s = 0 THEN 999900
           ELSE floor(least(10 * log10(65025.0 / (s / 48.0)), 9999.0)
                      * 100)::BIGINT END AS centi
  FROM iterms
),
aclips AS (
  SELECT i, 512 + (i * 277) % 2048 AS n,
         3 + i % 13 AS f1, 29 + i % 37 AS f2
  FROM (SELECT unnest(generate_series(0, 1499)) AS i)
),
asamples AS (
  SELECT c.i, t.t,
         greatest(-32768, least(32767,
           trunc(8000 * sin(2 * pi() * c.f1 * t.t / 16000)
                 + 4000 * sin(2 * pi() * c.f2 * t.t / 16000))::BIGINT
           + ({aud_dither} % 256)::BIGINT - 128)) AS x
  FROM aclips c,
       LATERAL (SELECT unnest(generate_series(0, c.n - 1)) AS t) t
),
afeats AS (
  SELECT i, count(*) AS n_samples, max(abs(x)) AS peak,
         sum(CASE WHEN (x < 0) <> (lx < 0) THEN 1 ELSE 0 END) AS zc
  FROM (SELECT i, t, x, lag(x) OVER (PARTITION BY i ORDER BY t) AS lx
        FROM asamples)
  GROUP BY i
),
vclips AS (
  SELECT i, 8 + (i * 131) % 56 AS n,
         16 * (1 << (i % 2)) AS w, 16 * (1 << ((i // 2) % 2)) AS h
  FROM (SELECT unnest(generate_series(0, 399)) AS i)
),
vpx AS (
  SELECT cl.i, f.f,
         sum((CASE c.c WHEN 0 THEN 2 WHEN 1 THEN 5 ELSE 1 END)
             * {vpix.format(s="cl.i * 1009 + f.f")}) AS luma,
         sum(CASE WHEN f.f = 0 THEN 0 ELSE
             abs({vpix.format(s="cl.i * 1009 + f.f")}
                 - {vpix.format(s="cl.i * 1009 + f.f - 1")}) END) AS dsum
  FROM vclips cl,
       LATERAL (SELECT unnest(generate_series(0, cl.n - 1)) AS f) f,
       LATERAL (SELECT unnest(generate_series(0, cl.h - 1)) AS y) y,
       LATERAL (SELECT unnest(generate_series(0, cl.w - 1)) AS x) x,
       (SELECT unnest(generate_series(0, 2)) AS c) c
  GROUP BY cl.i, f.f
),
vclip AS (
  SELECT i, max(luma) AS max_luma, sum(dsum) AS sum_diff
  FROM vpx GROUP BY i
)
SELECT 'image' AS modality,
       (SELECT count(*) FROM imgs)::BIGINT AS n,
       ((SELECT count(*) FROM fmts WHERE is_png)
        + (SELECT count(*) FROM jpeg_psnr WHERE centi >= 4000))::BIGINT
       AS c1,
       (SELECT count(*) FROM imgs)::BIGINT AS c2,
       least(999900, (SELECT min(centi) FROM jpeg_psnr))::BIGINT AS c3
UNION ALL
SELECT 'audio' AS modality,
       (SELECT count(*) FROM aclips)::BIGINT AS n,
       (SELECT sum(n_samples) FROM afeats)::BIGINT AS c1,
       (SELECT max(peak) FROM afeats)::BIGINT AS c2,
       (SELECT sum(zc) FROM afeats)::BIGINT AS c3
UNION ALL
SELECT 'video' AS modality,
       (SELECT count(*) FROM vclips)::BIGINT AS n,
       (SELECT sum(n) FROM vclips)::BIGINT AS c1,
       (SELECT max(max_luma) FROM vclip)::BIGINT AS c2,
       (SELECT sum(sum_diff) FROM vclip)::BIGINT AS c3"""

    # S2 get_header round trip: base snapshot carries the pts bbox +
    # feature lists + replication cursor 41; the change snapshot extends
    # the bbox 1000 units west, adds one required feature and advances the
    # cursor to 42.  4 + 2 repartitioned parquet files = the block index.
    o["s2_header"] = f"""
SELECT min(lon) - 1000 AS min_lon, min(lat) AS min_lat,
       max(lon) AS max_lon, max(lat) AS max_lat,
       'osmquadtree-spark' AS writingprogram,
       'synthetic-pts' AS source,
       cast(1600100000 as bigint) AS repl_ts,
       cast(42 as bigint) AS repl_seq,
       'OsmSchema-V0.6,DenseNodes,HistoricalInformation' AS req_features,
       'Sort.Type_then_ID' AS opt_features,
       cast(6 as bigint) AS num_blocks,
       cast(2 as bigint) AS n_change_blocks
FROM {PTS}"""

    # J6b: full ElementCompare classification + the ChangedUserName arm
    # (distinct (uid, name) pairs joined across sides), replayed exactly,
    # including the only_right extras carrying their ORIGINAL user names
    o["j6b_rename_classes"] = """
WITH c AS (SELECT cast(c_custkey as bigint) AS id,
                  c_custkey % 50 AS uid,
                  'u' || cast(c_custkey % 50 as string) AS usr,
                  (c_custkey * 7) % 1000 AS info,
                  (c_custkey * 11) % 1000 AS tags,
                  (c_custkey * 13) % 1000 AS data,
                  (c_custkey * 17) % 1000 AS quadtree
           FROM customer),
kept AS (SELECT * FROM c WHERE id % 13 <> 0),
r AS (SELECT id, uid,
             CASE WHEN uid % 5 = 0 THEN usr || 'x' ELSE usr END AS usr,
             CASE WHEN id % 17 = 0 THEN info + 1 ELSE info END AS info,
             CASE WHEN id % 19 = 0 THEN tags + 1 ELSE tags END AS tags,
             CASE WHEN id % 23 = 0 THEN data + 1 ELSE data END AS data,
             CASE WHEN id % 29 = 0 THEN quadtree + 1
                  ELSE quadtree END AS quadtree
      FROM kept
      UNION ALL
      SELECT -id - 1, uid, usr, info, tags, data, quadtree
      FROM kept WHERE (id + 1) % 31 = 0)
SELECT diff_class, cast(count(*) as bigint) AS num FROM (
  SELECT CASE WHEN r.id IS NULL THEN 'only_left'
              WHEN c.id IS NULL THEN 'only_right'
              WHEN c.info <> r.info THEN 'different_info'
              WHEN c.tags <> r.tags THEN 'different_tags'
              WHEN c.data <> r.data THEN 'different_data'
              WHEN c.quadtree <> r.quadtree THEN 'different_quadtree'
              ELSE 'same' END AS diff_class
  FROM c FULL OUTER JOIN r ON c.id = r.id)
GROUP BY diff_class
UNION ALL
SELECT 'changed_user_name' AS diff_class, cast(count(*) as bigint) AS num
FROM (SELECT DISTINCT uid, usr FROM c) lu
JOIN (SELECT DISTINCT uid, usr FROM r) ru
  ON lu.uid = ru.uid AND lu.usr <> ru.usr"""

    for k in ("x7b_date_string",
              "x8_mercator", "x1b_qt_views", "x5_tile_bbox",
              "x10b_point_geojson", "x10c_linestring_geojson",
              "x11_wkb_point", "x11_wkb_line", "x11_wkb_poly",
              "text_quality", "text_langid", "text_fingerprint",
              "ann_l2_topk", "ann_cosine_topk"):
        del o[k]
    return o

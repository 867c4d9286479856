WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END AS s
  FROM toks),
hs AS (SELECT doc_id,
  list_distinct(list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT))) AS h FROM sh),
sig AS (SELECT doc_id, h, len(h) AS n,
  [list_min(list_transform(h, x -> (1882626600 * (x % 2147483647) + 1495581582) % 2147483647)),
    list_min(list_transform(h, x -> (1978046493 * (x % 2147483647) + 1961085231) % 2147483647)),
    list_min(list_transform(h, x -> (1863427326 * (x % 2147483647) + 1698789561) % 2147483647)),
    list_min(list_transform(h, x -> (189532235 * (x % 2147483647) + 1199469679) % 2147483647)),
    list_min(list_transform(h, x -> (1134334277 * (x % 2147483647) + 402291681) % 2147483647)),
    list_min(list_transform(h, x -> (634651928 * (x % 2147483647) + 1562481036) % 2147483647)),
    list_min(list_transform(h, x -> (230655178 * (x % 2147483647) + 843080892) % 2147483647)),
    list_min(list_transform(h, x -> (1429348763 * (x % 2147483647) + 1420818835) % 2147483647)),
    list_min(list_transform(h, x -> (1186766045 * (x % 2147483647) + 1488852284) % 2147483647)),
    list_min(list_transform(h, x -> (674117823 * (x % 2147483647) + 841934516) % 2147483647)),
    list_min(list_transform(h, x -> (986410099 * (x % 2147483647) + 157841753) % 2147483647)),
    list_min(list_transform(h, x -> (607897307 * (x % 2147483647) + 676371400) % 2147483647)),
    list_min(list_transform(h, x -> (1485387556 * (x % 2147483647) + 1749375582) % 2147483647)),
    list_min(list_transform(h, x -> (148133426 * (x % 2147483647) + 1580552712) % 2147483647)),
    list_min(list_transform(h, x -> (1835608369 * (x % 2147483647) + 1039372969) % 2147483647)),
    list_min(list_transform(h, x -> (1316640760 * (x % 2147483647) + 2127381245) % 2147483647)),
    list_min(list_transform(h, x -> (539550274 * (x % 2147483647) + 1266552412) % 2147483647)),
    list_min(list_transform(h, x -> (657839785 * (x % 2147483647) + 1883181521) % 2147483647)),
    list_min(list_transform(h, x -> (870240001 * (x % 2147483647) + 308441646) % 2147483647)),
    list_min(list_transform(h, x -> (888198949 * (x % 2147483647) + 1691008023) % 2147483647)),
    list_min(list_transform(h, x -> (1323514231 * (x % 2147483647) + 477616385) % 2147483647)),
    list_min(list_transform(h, x -> (1864617767 * (x % 2147483647) + 1290059274) % 2147483647)),
    list_min(list_transform(h, x -> (326812563 * (x % 2147483647) + 1756254091) % 2147483647)),
    list_min(list_transform(h, x -> (189205127 * (x % 2147483647) + 788322978) % 2147483647)),
    list_min(list_transform(h, x -> (48239736 * (x % 2147483647) + 1165674267) % 2147483647)),
    list_min(list_transform(h, x -> (1111603712 * (x % 2147483647) + 1325024995) % 2147483647)),
    list_min(list_transform(h, x -> (373372573 * (x % 2147483647) + 1546591866) % 2147483647)),
    list_min(list_transform(h, x -> (652568022 * (x % 2147483647) + 264551637) % 2147483647)),
    list_min(list_transform(h, x -> (432258225 * (x % 2147483647) + 1118356028) % 2147483647)),
    list_min(list_transform(h, x -> (1869482714 * (x % 2147483647) + 395534007) % 2147483647)),
    list_min(list_transform(h, x -> (1935239192 * (x % 2147483647) + 1488164777) % 2147483647)),
    list_min(list_transform(h, x -> (67121569 * (x % 2147483647) + 1631966647) % 2147483647))] AS m
  FROM hs),
bnd AS MATERIALIZED (SELECT doc_id, 0 AS band, [m[1], m[2], m[3], m[4]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 1 AS band, [m[5], m[6], m[7], m[8]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 2 AS band, [m[9], m[10], m[11], m[12]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 3 AS band, [m[13], m[14], m[15], m[16]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 4 AS band, [m[17], m[18], m[19], m[20]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 5 AS band, [m[21], m[22], m[23], m[24]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 6 AS band, [m[25], m[26], m[27], m[28]] AS bucket FROM sig
  UNION ALL SELECT doc_id, 7 AS band, [m[29], m[30], m[31], m[32]] AS bucket FROM sig),
ok AS (SELECT band, bucket FROM bnd GROUP BY band, bucket
  HAVING count(*) BETWEEN 2 AND 200),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bnd x JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
    AND x.doc_id < y.doc_id
  JOIN ok ON ok.band = x.band AND ok.bucket = x.bucket),
v AS (SELECT id_a, id_b,
  round(CAST(len(list_intersect(p.h, q.h)) AS DOUBLE) /
        CAST(p.n + q.n - len(list_intersect(p.h, q.h)) AS DOUBLE), 4) AS jaccard
  FROM cand JOIN sig p ON p.doc_id = id_a JOIN sig q ON q.doc_id = id_b),
pr AS MATERIALIZED (SELECT id_a, id_b FROM v WHERE jaccard >= 0.3),
ed AS MATERIALIZED (SELECT id_a AS u, id_b AS w FROM pr
  UNION SELECT id_b, id_a FROM pr),
nd AS (SELECT DISTINCT u AS id FROM ed),
reach AS (
  SELECT id, id AS r FROM nd
  UNION
  SELECT reach.id, ed.w AS r FROM reach JOIN ed ON ed.u = reach.r)
SELECT id, min(r) AS rep FROM reach GROUP BY id ORDER BY id

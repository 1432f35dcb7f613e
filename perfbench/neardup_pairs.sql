-- Expected DISTINCT (doc_a, doc_b) candidate pairs of banded MinHash LSH
-- over the stream-neardup corpus: 3-word shingles of the lowercased,
-- whitespace-collapsed text (one whole-text shingle for shorter docs),
-- 32 hashes = 4 hex lanes of md5('s<g>:' || shingle) for g in 0..7,
-- 8 bands of 4 rows, band key md5 of the lane minima joined by '|'.
-- {docs} is replaced by the corpus parquet glob.
WITH corpus AS (
  SELECT doc_id, text FROM read_parquet('{docs}')
),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM corpus)
),
md AS (
  SELECT doc_id,
         md5('s0:' || shingle) AS m0, md5('s1:' || shingle) AS m1,
         md5('s2:' || shingle) AS m2, md5('s3:' || shingle) AS m3,
         md5('s4:' || shingle) AS m4, md5('s5:' || shingle) AS m5,
         md5('s6:' || shingle) AS m6, md5('s7:' || shingle) AS m7
  FROM sh
),
lanes AS (
  SELECT doc_id,
    min(substr(m0, 1, 8)) h0,  min(substr(m0, 9, 8)) h1,  min(substr(m0, 17, 8)) h2,  min(substr(m0, 25, 8)) h3,
    min(substr(m1, 1, 8)) h4,  min(substr(m1, 9, 8)) h5,  min(substr(m1, 17, 8)) h6,  min(substr(m1, 25, 8)) h7,
    min(substr(m2, 1, 8)) h8,  min(substr(m2, 9, 8)) h9,  min(substr(m2, 17, 8)) h10, min(substr(m2, 25, 8)) h11,
    min(substr(m3, 1, 8)) h12, min(substr(m3, 9, 8)) h13, min(substr(m3, 17, 8)) h14, min(substr(m3, 25, 8)) h15,
    min(substr(m4, 1, 8)) h16, min(substr(m4, 9, 8)) h17, min(substr(m4, 17, 8)) h18, min(substr(m4, 25, 8)) h19,
    min(substr(m5, 1, 8)) h20, min(substr(m5, 9, 8)) h21, min(substr(m5, 17, 8)) h22, min(substr(m5, 25, 8)) h23,
    min(substr(m6, 1, 8)) h24, min(substr(m6, 9, 8)) h25, min(substr(m6, 17, 8)) h26, min(substr(m6, 25, 8)) h27,
    min(substr(m7, 1, 8)) h28, min(substr(m7, 9, 8)) h29, min(substr(m7, 17, 8)) h30, min(substr(m7, 25, 8)) h31
  FROM md GROUP BY doc_id
),
sig AS (
  SELECT doc_id, band, minhash FROM (
    SELECT doc_id,
      md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS b0,
      md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS b1,
      md5(h8 || '|' || h9 || '|' || h10 || '|' || h11) AS b2,
      md5(h12 || '|' || h13 || '|' || h14 || '|' || h15) AS b3,
      md5(h16 || '|' || h17 || '|' || h18 || '|' || h19) AS b4,
      md5(h20 || '|' || h21 || '|' || h22 || '|' || h23) AS b5,
      md5(h24 || '|' || h25 || '|' || h26 || '|' || h27) AS b6,
      md5(h28 || '|' || h29 || '|' || h30 || '|' || h31) AS b7
    FROM lanes
  ) UNPIVOT (minhash FOR band IN (b0, b1, b2, b3, b4, b5, b6, b7))
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM sig l JOIN sig r
  ON l.band = r.band AND l.minhash = r.minhash AND l.doc_id < r.doc_id

WITH words AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '[ ",()*]'), x -> x <> '')) AS w
  FROM documents
)
SELECT w AS "group", COUNT(*) AS n
FROM words GROUP BY w
ORDER BY n DESC, w
LIMIT $TOPN

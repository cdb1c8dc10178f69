"""H. Scalar function families — one composite declared query per family.

Dialect discipline (SURVEY §7.2.7): regexes stay in the POSIX-common
subset (Java ↔ RE2 safe); ceil/sign get explicit casts where return
types differ; libm-backed functions (ln/exp) are rounded to 6 dp and
run on bounded slices; timestamp math uses exact integer microseconds
(unix_micros ↔ epoch_us), never float epochs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_upper, nan_to_null
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


@register(
    "fn_string",
    oracle="""
        SELECT p_partkey,
               upper(replace(p_name, chr(223), 'ss')) AS name_upper,
               lower(p_brand) AS brand_lower,
               length(p_name) AS name_len,
               substring(p_name, 1, 8) AS name_head,
               concat_ws('|', p_brand, p_type) AS brand_type,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               replace(p_type, ' ', '_') AS type_snake,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               string_split(p_name, ' ')[1] AS first_word,
               levenshtein(p_brand, 'Brand#10') AS lev_to_b10
        FROM part
    """,
    tags=("H1",),
)
def fn_string(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        fold_upper(F.col("p_name")).alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.levenshtein("p_brand", F.lit("Brand#10")).alias("lev_to_b10"),
    )


@register(
    "fn_datetime",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dom,
               isodow(o_orderdate) AS iso_dow,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               o_orderdate + INTERVAL 30 DAY AS plus_30d,
               date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
               epoch_us(o_orderdate) AS order_us,
               (year(o_orderdate) * 12 + month(o_orderdate)) AS month_index
        FROM orders
    """,
    tags=("H2",),
)
def fn_datetime(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    # parquet ms-timestamps surface as TIMESTAMP_NTZ; cast to TIMESTAMP
    # (identity under the UTC-pinned session) for unix_micros.
    d = F.col("o_orderdate").cast("timestamp")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        (F.weekday(d) + F.lit(1)).alias("iso_dow"),
        F.date_trunc("month", d).alias("month_start"),
        (d + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
        F.datediff(F.lit("2002-01-01").cast("timestamp"), d).alias("days_to_2002"),
        F.unix_micros(d).alias("order_us"),
        (F.year(d) * F.lit(12) + F.month(d)).alias("month_index"),
    )


@register(
    "fn_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               abs(l_quantity - 25) AS qty_dev,
               CAST(ceil(l_extendedprice / 100) AS BIGINT) AS price_ceil,
               CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_floor,
               power(l_quantity, 2) AS qty_sq,
               -- domain pins (r13 negmeasures): DuckDB ERRORS on
               -- sqrt/ln of a negative where Spark yields NaN/NULL —
               -- out-of-domain input is the undefined value NULL on
               -- both engines (NaN stays NaN: NaN >= 0 is TRUE on both)
               CASE WHEN l_extendedprice >= 0
                    THEN sqrt(l_extendedprice) END AS price_sqrt,
               CASE WHEN l_extendedprice > 0
                    THEN ROUND(ln(l_extendedprice), 6) END AS price_ln,
               ROUND(exp(l_discount), 6) AS disc_exp,
               -- sign() is NaN-ABSORBING on DuckDB (NaN compares greatest,
               -- so sign(NaN)=1) while Spark's signum(NaN)=NaN: pin the
               -- INPUT to NULL so both engines emit NULL (round 13)
               CAST(sign((CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END) - 25) AS INTEGER) AS qty_sign,
               ((l_orderkey % 7) + 7) % 7 AS key_mod7,
               l_extendedprice / nullif(l_quantity - 1, 0) AS per_extra_unit
        FROM lineitem
        WHERE l_orderkey < 400
    """,
    tags=("H3",),
)
def fn_math(spark, sf_dir):
    """sqrt is IEEE correctly-rounded (identical across engines);
    ln/exp are libm-backed → round 6 dp; ceil/sign casts pin the
    differing return types; try_divide ↔ x/nullif(y,0)."""
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 400)
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25).alias("qty_dev"),
        # NaN pin (round 13): ceil/floor return LONG on Spark, so an IEEE
        # NaN input errors under ANSI where the oracle's guarded CAST
        # yields NULL — same boundary, same nan_to_null pin.
        F.ceil(nan_to_null(p) / 100).alias("price_ceil"),
        F.floor(nan_to_null(p) / 100).alias("price_floor"),
        F.pow(q, 2).alias("qty_sq"),
        # domain pins (r13 negmeasures) — see the oracle comment
        F.when(p >= 0, F.sqrt(p)).alias("price_sqrt"),
        F.when(p > 0, F.round(F.log(p), 6)).alias("price_ln"),
        F.round(F.exp(F.col("l_discount")), 6).alias("disc_exp"),
        nan_to_null(F.signum(q - 25)).cast("int").alias("qty_sign"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
        F.try_divide(p, q - 1).alias("per_extra_unit"),
    )


@register(
    "fn_conditional",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice >= 300000 THEN 'high'
                    WHEN o_totalprice >= 100000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
               greatest(o_totalprice, 250000.0) AS floor_price,
               least(o_totalprice, 250000.0) AS capped_price
        FROM orders
    """,
    tags=("H4",),
)
def fn_conditional(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp >= 300000, "high").when(tp >= 100000, "mid").otherwise("low").alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias("status_label"),
        F.greatest(tp, F.lit(250000.0)).alias("floor_price"),
        F.least(tp, F.lit(250000.0)).alias("capped_price"),
    )


@register(
    "fn_array",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               CAST(embedding[1] AS DOUBLE) AS head_1,
               CAST(embedding[2] AS DOUBLE) AS head_2,
               CAST(embedding[3] AS DOUBLE) AS head_3,
               CAST(embedding[4] AS DOUBLE) AS head_4,
               ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm2,
               CAST(list_max(embedding) AS DOUBLE) AS vec_max,
               len(list_filter(embedding, x -> x > 0)) AS n_positive
        FROM embeddings
    """,
    tags=("H5",),
)
def fn_array(spark, sf_dir):
    """Array HOFs (transform/filter/aggregate) over the embedding
    column. Element math is float→double cast (exact); folds rounded
    to 6 dp to absorb summation-order ulps. Array head is projected as
    four scalar double columns, not a serialized string: double→string
    formatting differs between the JVM and other engines (scientific-
    notation thresholds, shortest-round-trip algorithms), while scalar
    doubles compare bitwise via the float64 path (§7.2.8)."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        dbl.getItem(0).alias("head_1"),
        dbl.getItem(1).alias("head_2"),
        dbl.getItem(2).alias("head_3"),
        dbl.getItem(3).alias("head_4"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 6).alias("vec_sum"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 6).alias("norm2"),
        F.array_max("embedding").cast("double").alias("vec_max"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "fn_map",
    oracle="""
        SELECT event_id,
               map_extract(map(['type', 'user'], [event_type, CAST(user_id AS VARCHAR)]),
                           'type')[1] AS type_val,
               array_to_string(map_keys(map(['type', 'user'],
                               [event_type, CAST(user_id AS VARCHAR)])), '|') AS keys,
               array_to_string(map_values(map(['type', 'user'],
                               [event_type, CAST(user_id AS VARCHAR)])), '|') AS vals,
               cardinality(map(['type', 'user'], [event_type, CAST(user_id AS VARCHAR)])) AS n_keys
        FROM events
        WHERE event_id < 500
    """,
    tags=("H6",),
)
def fn_map(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    m = F.map_from_arrays(
        F.array(F.lit("type"), F.lit("user")),
        F.array(F.col("event_type"), F.col("user_id").cast("string")),
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.array_join(F.map_keys(m), "|").alias("keys"),
        F.array_join(F.map_values(m), "|").alias("vals"),
        F.size(m).alias("n_keys"),
    )


@register(
    "fn_json",
    oracle="""
        WITH ex AS (
            SELECT event_id,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.k') END AS k_str,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.missing') END AS m_str
            FROM events
        )
        SELECT event_id,
               TRY_CAST(k_str AS BIGINT) AS k_val,
               (k_str IS NOT NULL) AS has_k,
               (m_str IS NULL) AS missing_absent
        FROM ex
    """,
    tags=("H7",),
)
def fn_json(spark, sf_dir):
    """JSON path extraction (get_json_object ↔ json_extract_string);
    the numeric pull is TRY_CAST on both engines so a string-valued
    $.k (extremetext shape) is a defined NULL, not an ANSI cast error.
    Spark 4's parse_json/VariantType is exposed as an engine capability
    (sources/json.py) but not declared — no DuckDB variant analogue."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_val"),
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_absent"),
    )


@register(
    "fn_bitwise",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_orderkey & 255 AS key_and,
               l_orderkey | 4096 AS key_or,
               xor(l_orderkey, l_partkey) AS key_xor,
               l_orderkey << 3 AS key_shl,
               l_orderkey >> 2 AS key_shr,
               ~l_orderkey AS key_not,
               bit_count(l_orderkey) AS key_popcount
        FROM lineitem
        WHERE l_orderkey < 400
    """,
    tags=("H8",),
)
def fn_bitwise(spark, sf_dir):
    """Bitwise family over 64-bit keys (hash bucketing / bitmap-flag
    workloads): and/or/xor, shifts, complement, popcount — all JVM
    expressions with exact cross-engine integer semantics."""
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 400)
    k = F.col("l_orderkey")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("key_and"),
        k.bitwiseOR(F.lit(4096)).alias("key_or"),
        k.bitwiseXOR(F.col("l_partkey")).alias("key_xor"),
        F.shiftleft(k, 3).alias("key_shl"),
        F.shiftright(k, 2).alias("key_shr"),
        F.bitwise_not(k).alias("key_not"),
        F.bit_count(k).alias("key_popcount"),
    )


@register(
    "fn_try_arithmetic",
    oracle="""
        SELECT o_orderkey,
               o_totalprice / NULLIF(CAST(o_orderkey % 7 AS DOUBLE), 0.0)
                   AS price_per_bucket,
               TRY_CAST(o_orderpriority AS INTEGER) AS prio_bad_cast,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
               CASE WHEN o_custkey = 0 THEN NULL
                    ELSE CAST(o_orderkey AS DOUBLE) / o_custkey END
                   AS key_ratio
        FROM orders
    """,
    tags=("H-try",),
)
def fn_try_arithmetic(spark, sf_dir):
    """Error-safe expression surface (ANSI-mode hardening): try_divide
    returns NULL on division by zero instead of failing the job, and
    try_cast returns NULL on malformed input instead of erroring —
    the difference between a 100 TB job dying at hour 9 on one bad
    row and a NULL that downstream quality checks count.  The oracle
    spells the same semantics with NULLIF/TRY_CAST; results are
    mode-independent (identical under ANSI on or off)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 7).cast("double")
        ).alias("price_per_bucket"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("prio_bad_cast"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias("prio_num"),
        F.try_divide(F.col("o_orderkey").cast("double"), F.col("o_custkey")).alias(
            "key_ratio"
        ),
    )


@register(
    "fn_url_parse",
    oracle="""
        WITH raw AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'HTTP://WWW.' || upper(source) || '.EXAMPLE.COM'
                        ELSE 'https://www.' || source || '.example.com' END
                   || '/docs/' || CAST(doc_id % 50 AS STRING) || '/'
                   || CASE WHEN doc_id % 2 = 0
                           THEN '?ref=' || CAST(doc_id % 3 AS STRING) || '&utm_source=feed'
                           ELSE '?utm_campaign=c' || CAST(doc_id AS STRING)
                                || '&ref=' || CAST(doc_id % 3 AS STRING) END
                   || CASE WHEN doc_id % 3 = 0 THEN '#section-' || CAST(doc_id AS STRING)
                           ELSE '' END AS url
            FROM documents
        )
        SELECT doc_id,
               regexp_extract(url, '^([a-zA-Z]+)://', 1) AS protocol,
               regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1) AS host,
               regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query,
               regexp_extract(url, '(^|[?&])ref=([^&#]*)', 2) AS ref_param,
               NULLIF(regexp_extract(url, '#(.*)$', 1), '') AS fragment
        FROM raw
    """,
    tags=("H-url",),
)
def fn_url_parse(spark, sf_dir):
    """URL component extraction with the built-in ``parse_url`` family
    (PROTOCOL / HOST / PATH / QUERY / per-key QUERY / REF) over the
    same synthesized URL fixture as ``dedup_url_canonical``
    (llm/urls.py) — JVM-side expressions, one scan, no UDF.  The
    oracle mirrors each component with an equivalent anchored regexp,
    which doubles as documentation of exactly what parse_url extracts
    (query excludes the fragment; REF is NULL when no '#' is
    present)."""
    from etl_builder_spark.llm.urls import _URL_SQL

    d = load_table(spark, sf_dir, "documents")
    url = F.expr(_URL_SQL)
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        F.parse_url(url, F.lit("REF")).alias("fragment"),
    )


@register(
    "fn_hash_codec",
    oracle="""
        SELECT doc_id,
               md5(text) AS text_md5,
               sha256(text) AS text_sha256,
               to_base64(encode(substr(text, 1, 24))) AS head_b64,
               hex(encode(substr(text, 1, 12))) AS head_hex,
               substr(sha256(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 16)
                   AS stable_key
        FROM documents
    """,
    tags=("H-codec",),
)
def fn_hash_codec(spark, sf_dir):
    """Hashing/encoding function family — md5 / sha2-256 / base64 /
    hex, the content-addressing toolkit (stable surrogate keys,
    content fingerprints, payload-safe transport encoding) every ETL
    surface ships.  All four are byte-identical across engines on
    UTF-8 input (probed, incl. non-ASCII), so the whole family sits
    under the exact hash; `stable_key` shows the composite-key recipe
    (hash of a delimited column concat) that replaces fragile
    multi-column join keys at scale.  Pure JVM expressions in one
    codegen stage — no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.base64(F.encode(F.substring("text", 1, 24), "utf-8")).alias("head_b64"),
        F.hex(F.encode(F.substring("text", 1, 12), "utf-8")).alias("head_hex"),
        F.substring(
            F.sha2(F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string")), 256),
            1,
            16,
        ).alias("stable_key"),
    )


@register(
    "fn_ipv4_cidr",
    oracle="""
        WITH ips AS (
            SELECT user_id,
                   ((user_id * 2654435761) % 4294967296) AS ip
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        parsed AS (
            SELECT user_id, ip,
                   CAST(ip // 16777216 AS BIGINT) AS o1,
                   CAST((ip // 65536) % 256 AS BIGINT) AS o2,
                   CAST((ip // 256) % 256 AS BIGINT) AS o3,
                   CAST(ip % 256 AS BIGINT) AS o4
            FROM ips
        )
        SELECT CAST(ip // 65536 * 65536 AS BIGINT) AS cidr16_base,
               CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.0.0/16'
                   AS cidr16,
               CAST(COUNT(*) AS BIGINT) AS n_hosts,
               CAST(SUM(CASE WHEN o1 = 10
                              OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                              OR (o1 = 192 AND o2 = 168)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_private,
               CAST(MIN(ip) AS BIGINT) AS min_ip,
               CAST(MAX(ip) AS BIGINT) AS max_ip
        FROM parsed
        GROUP BY 1, 2
    """,
    tags=("H-network",),
)
def fn_ipv4_cidr(spark, sf_dir):
    """IPv4 / CIDR arithmetic as pure integer expressions — the
    network-analytics surface (log enrichment, abuse detection, subnet
    rollups) without any inet type: synthetic-but-deterministic
    addresses (Knuth mix of user_id), octet extraction by integer
    div/mod, RFC-1918 private-range classification, and a /16 subnet
    rollup whose CIDR label is rebuilt as text.  Everything is exact
    BIGINT math + string concat — identical across engines, no UDF.
    One distinct-projection and one hash aggregate at any scale."""
    e = load_table(spark, sf_dir, "events").select("user_id").distinct()
    ip = F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(4294967296))
    parsed = e.select(ip.alias("ip")).select(
        "ip",
        F.expr("ip div 16777216").cast("bigint").alias("o1"),
        F.pmod(F.expr("ip div 65536"), F.lit(256)).cast("bigint").alias("o2"),
        F.pmod(F.expr("ip div 256"), F.lit(256)).cast("bigint").alias("o3"),
        F.pmod(F.col("ip"), F.lit(256)).cast("bigint").alias("o4"),
    )
    private = (
        (F.col("o1") == 10)
        | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
        | ((F.col("o1") == 192) & (F.col("o2") == 168))
    )
    return parsed.groupBy(
        (F.expr("ip div 65536") * 65536).cast("bigint").alias("cidr16_base"),
        F.concat(
            F.col("o1").cast("string"), F.lit("."), F.col("o2").cast("string"),
            F.lit(".0.0/16"),
        ).alias("cidr16"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        F.sum(F.when(private, 1).otherwise(0)).cast("bigint").alias("n_private"),
        F.min("ip").cast("bigint").alias("min_ip"),
        F.max("ip").cast("bigint").alias("max_ip"),
    )


@register(
    "fn_luhn_check",
    oracle="""
        WITH nums AS (
            SELECT c_custkey,
                   100000000000 + (c_custkey * 2654435761) % 100000000000 AS pan
            FROM customer
        ),
        digits AS (
            SELECT c_custkey, pan, p.i AS pos,
                   CAST((pan // CAST(POWER(10, p.i) AS BIGINT)) % 10 AS BIGINT) AS d
            FROM nums, unnest(range(0, 12)) AS p(i)
        ),
        contrib AS (
            SELECT c_custkey, pan, pos,
                   CASE WHEN pos % 2 = 1
                        THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                        ELSE d END AS v
            FROM digits
        )
        SELECT c_custkey, pan,
               CAST(SUM(v) AS BIGINT) AS luhn_sum,
               (SUM(v) % 10 = 0) AS luhn_valid,
               CAST((10 - (SUM(v) - MAX(CASE WHEN pos = 0 THEN v END)) % 10) % 10
                    AS BIGINT) AS expected_check_digit
        FROM contrib
        GROUP BY c_custkey, pan
    """,
    tags=("H-checksum",),
)
def fn_luhn_check(spark, sf_dir):
    """Luhn checksum validation — the card/IMEI/account check-digit
    rule every ingestion pipeline applies to PAN-like fields — over
    deterministic synthetic 12-digit numbers: digits by div/mod
    against a positions grid, the double-every-second-digit fold with
    the >9 ⇒ −9 correction, validity = sum mod 10, and the check
    digit the number SHOULD end with.  Pure integer expressions; the
    positions grid multiplies only inside map-side combine (the
    threshold-grid pattern)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    pan = (
        F.lit(100_000_000_000)
        + F.pmod(F.col("c_custkey") * F.lit(2654435761), F.lit(100_000_000_000))
    ).alias("pan")
    nums = c.select("c_custkey", pan)
    pos = spark.range(12).select(F.col("id").alias("pos"))
    digits = nums.crossJoin(F.broadcast(pos)).select(
        "c_custkey",
        "pan",
        "pos",
        F.pmod(
            F.expr("pan div CAST(POWER(10, pos) AS BIGINT)"), F.lit(10)
        ).cast("bigint").alias("d"),
    )
    doubled = F.col("d") * 2
    v = F.when(
        F.pmod(F.col("pos"), F.lit(2)) == 1,
        F.when(doubled > 9, doubled - 9).otherwise(doubled),
    ).otherwise(F.col("d"))
    contrib = digits.select("c_custkey", "pan", "pos", v.alias("v"))
    return contrib.groupBy("c_custkey", "pan").agg(
        F.sum("v").cast("bigint").alias("luhn_sum"),
        (F.pmod(F.sum("v"), F.lit(10)) == 0).alias("luhn_valid"),
        F.pmod(
            10
            - F.pmod(
                F.sum("v") - F.max(F.when(F.col("pos") == 0, F.col("v"))), F.lit(10)
            ),
            F.lit(10),
        )
        .cast("bigint")
        .alias("expected_check_digit"),
    )


@register(
    "fn_iso_week_from_scratch",
    oracle="""
        WITH days AS (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS d,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                       AS dn
            FROM orders
        ),
        thu AS (
            SELECT d, dn,
                   dn - (dn + 3) % 7 + 3 AS thursday_dn
            FROM days
        ),
        iso AS (
            SELECT d, dn, thursday_dn,
                   EXTRACT(year FROM DATE '1970-01-01'
                           + CAST(thursday_dn AS INT)) AS iso_year
            FROM thu
        ),
        wk AS (
            SELECT d, iso_year, thursday_dn,
                   CAST(make_date(CAST(iso_year AS INT), 1, 4)
                        - DATE '1970-01-01' AS BIGINT) AS jan4_dn
            FROM iso
        )
        SELECT d AS order_date,
               CAST(iso_year AS BIGINT) AS iso_year,
               CAST((thursday_dn - (jan4_dn - (jan4_dn + 3) % 7)) // 7 + 1
                    AS BIGINT) AS iso_week
        FROM wk
    """,
    tags=("H-datetime",),
)
def fn_iso_week_from_scratch(spark, sf_dir):
    """ISO-8601 week numbering REBUILT from integer day arithmetic
    instead of each engine's calendar builtin (policy §7.2.7: same
    formulation both sides beats same-named builtins, whose year-
    boundary behaviors are the classic cross-engine trap): the ISO
    week of a date is the week of its THURSDAY (dow from epoch-day
    mod 7, 1970-01-01 anchored on a Thursday), the ISO year is that
    Thursday's calendar year, and week 1 starts on the Monday of the
    week containing Jan 4.  tests/ verifies the formula against
    DuckDB's independent isoyear/week builtins over the whole corpus
    — the cross-check cross-engine parity alone cannot provide.

    100 TB posture: distinct-date frame (bounded by the calendar, not
    the corpus) + pure codegen expressions; the formula is the
    engine-portable partition key for ISO-week rollups."""
    o = load_table(spark, sf_dir, "orders")
    days = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    dn = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("bigint")
    thu = days.select("d", dn.alias("dn")).select(
        "d", "dn", (F.col("dn") - F.pmod(F.col("dn") + 3, F.lit(7)) + 3).alias("thursday_dn")
    )
    iso = thu.select(
        "d",
        "thursday_dn",
        F.year(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("thursday_dn").cast("int"))
        )
        .cast("bigint")
        .alias("iso_year"),
    )
    wk = iso.select(
        "d",
        "iso_year",
        "thursday_dn",
        F.datediff(
            F.make_date(F.col("iso_year").cast("int"), F.lit(1), F.lit(4)),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("jan4_dn"),
    )
    return wk.select(
        F.col("d").alias("order_date"),
        "iso_year",
        (
            F.floor(
                (
                    F.col("thursday_dn")
                    - (F.col("jan4_dn") - F.pmod(F.col("jan4_dn") + 3, F.lit(7)))
                )
                / 7
            ).cast("bigint")
            + 1
        ).alias("iso_week"),
    )


@register(
    "fn_uuid3_deterministic",
    oracle="""
        WITH h AS (
            SELECT o_orderkey,
                   md5('etl-builder:order:' || CAST(o_orderkey AS VARCHAR))
                       AS hx
            FROM orders WHERE o_orderkey <= 2000
        )
        SELECT o_orderkey,
               substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-'
               || '3' || substr(hx, 14, 3) || '-'
               || CASE substr(hx, 17, 1)
                      WHEN '0' THEN '8' WHEN '1' THEN '9'
                      WHEN '2' THEN 'a' WHEN '3' THEN 'b'
                      WHEN '4' THEN '8' WHEN '5' THEN '9'
                      WHEN '6' THEN 'a' WHEN '7' THEN 'b'
                      WHEN '8' THEN '8' WHEN '9' THEN '9'
                      WHEN 'a' THEN 'a' WHEN 'b' THEN 'b'
                      WHEN 'c' THEN '8' WHEN 'd' THEN '9'
                      WHEN 'e' THEN 'a' ELSE 'b' END
               || substr(hx, 18, 3) || '-' || substr(hx, 21, 12) AS uuid3,
               (length(hx) = 32) AS hash_ok
        FROM h
        ORDER BY o_orderkey
    """,
    tags=("H-uuid",),
)
def fn_uuid3_deterministic(spark, sf_dir):
    """Deterministic namespaced UUID minting — RFC-4122 version-3
    layout over md5(namespace:key) (v3 IS the MD5 name-based version;
    renamed from the round-9 `fn_uuid5_deterministic` per ADVICE r9 —
    stamping '5' on an MD5-derived hash misstated the derivation):
    8-4-4-4-12 grouping, version nibble forced to 3, variant nibble
    forced into 8..b by masking
    the top two bits (hex & 0x3 | 0x8, expressed as the 16-way CASE
    both engines evaluate identically).  This is how pipelines mint
    STABLE entity ids that agree across systems and re-runs without
    coordination — the cross-system upgrade of etl_surrogate_keys
    (whose ids are corpus-relative ranks).

    Exactness: pure string surgery on the md5 hex — byte-identical
    across engines by construction; the bounded slice keeps the
    declared frame reviewable (the minting expression itself is
    row-local and applies unchanged at any scale).

    100 TB posture: expression-only (scan-shaped, zero shuffle);
    collision behavior is md5's — fine for id minting, not for
    adversarial inputs."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    hx = F.md5(F.concat(F.lit("etl-builder:order:"), F.col("o_orderkey").cast("string")))
    variant_map = dict(zip("0123456789abcdef", "89ab89ab89ab89ab"))
    v = F.substring(hx, 17, 1)
    variant = None
    for src_c, dst in variant_map.items():
        variant = (
            F.when(v == src_c, dst) if variant is None else variant.when(v == src_c, dst)
        )
    uuid3 = F.concat(
        F.substring(hx, 1, 8),
        F.lit("-"),
        F.substring(hx, 9, 4),
        F.lit("-3"),
        F.substring(hx, 14, 3),
        F.lit("-"),
        variant,
        F.substring(hx, 18, 3),
        F.lit("-"),
        F.substring(hx, 21, 12),
    )
    return o.select(
        "o_orderkey",
        uuid3.alias("uuid3"),
        (F.length(hx) == 32).alias("hash_ok"),
    ).orderBy("o_orderkey")

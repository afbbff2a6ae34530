package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The graph family: connected components over the near-dup pair
  * graph, link extraction and PageRank (batch, served and streamed).
  */
private[graft] object GraphQueries {
  import Common._

  /** Build-once customer<->supplier trade-graph edge tables (q95b):
    * the q95 edge derivation — the join+distinct+mirror+out-degree
    * fold that dominated q95's wall clock — materialized once per
    * dataset tag via [[graft.operators.Graph.ensureEdgeTable]];
    * serving iterations read only these tables. */
  private def ensureTradeEdgeTable(s: SparkSession, dir: String): String = {
    // b32 = the bucketed layout version: existence-keyed idempotence
    // must not serve a pre-bucketing table under the no-repartition
    // serve path
    val tbl = s"graft_q95b_edges_b32_${dataTag(s, dir, "orders", "lineitem")}"
    graft.operators.Graph.ensureEdgeTable(s, {
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
        .distinct()
      pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
    }, "src", "dst", tbl, assumeDistinct = true)
    tbl
  }

  /** The q113/q114 web-page fixture: one page per document with a
    * deterministic base URL (`https://Site{id%20}.Example.COM:443/…` —
    * mixed case + default port so canonicalization is live) and four
    * link species — a chrome nav link, an absolute link carrying the
    * full canonicalization torture set (case, default port, dot
    * segments, tracking params, unsorted query, fragment), a
    * path-relative link with a tracking param, a protocol-relative
    * link — plus a mailto: that must canonicalize to NULL. */
  private def linkPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://Site"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".Example.COM:443/dir/page"), col("doc_id").cast("string"),
        lit(".html")).as("base_url"),
      concat(
        lit("<html><body><nav><a href=\"/home\">Home</a></nav>" +
          "<p><a href=\"HTTPS://WWW.Example.com:443/a/b/../c/./d.html" +
          "?utm_source=x&amp;b=2&amp;a=1&amp;gclid=z#frag\">one</a> " +
          "<a href='../other/page"),
        col("doc_id").cast("string"),
        lit(".html?z=1&amp;utm_medium=email'>two</a> " +
          "<a href=//CDN.example.com/lib.js>three</a> " +
          "<a href=\"mailto:user@example.com\">four</a></p></body></html>"))
        .as("html"))

  val all: Seq[Query] = Seq(
    // Near-dup pairs → duplicate CLUSTERS: distributed connected
    // components (large-star/small-star, O(log n) rounds, no driver
    // edge list) over the verified n-gram pair set. Transitivity is
    // the point — a–b and b–c pair up {a,b,c} even when (a,c) was
    // never a candidate. Oracle: DuckDB recursive-CTE label reach over
    // the independently-computed brute-force pair set.
    // Served from the build-once components table (ensureComponents-
    // Table): the fixpoint runs once per dataset tag and q62/q78b read
    // the same map — round-6 ran it independently in all three.
    Query("q48_dedup_clusters", (s, dir) => {
      s.table(ensureComponentsTable(s, dir)).orderBy("node")
    },
      // q48: the pair set is q31's brute-force oracle; components via
      // recursive label propagation — min reachable label per node.
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node)
         SELECT node, min(lbl) AS component
         FROM reach GROUP BY node ORDER BY node"""),

    // Near-dup pairs → clusters → SURVIVORS: the transitive corpus
    // filter (dropNearDuplicateClusters) keeps the smallest id per
    // connected component of the verified n-gram pair graph. The pair
    // set is served off the SAME persisted index tables q31b builds
    // (ensureNgramTables is idempotent per dataset tag) — exactly how a
    // nightly dedup pipeline shares its index across consumers instead
    // of regenerating pairs per job. Oracled: the pairs are q31's
    // brute-force ground truth and the component minima come from a
    // recursive label-reach CTE, so the survivor set (pinned per
    // source with an id checksum) is fully SQL-checkable.
    Query("q62_drop_clusters", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val comp = s.table(ensureComponentsTable(s, dir))
      graft.operators.Dedup
        .dropNearDuplicateClustersFromComponents(docs, "doc_id", comp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source")
    },
      // q62: q48's component computation (brute-force trigram pairs +
      // recursive label reach) feeding the survivor rule — drop every
      // node that is not its component's minimum.
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text),
                    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' '))) END AS grams
           FROM w),
         jp AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.5),
         e AS (SELECT doc_a AS u, doc_b AS v FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(node, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
         drops AS (
           SELECT node FROM reach GROUP BY node HAVING node != min(lbl))
         SELECT source, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)
         GROUP BY source ORDER BY source"""),

    // Link-graph ranking in exact integer micro-units: PageRank over
    // the bipartite customer<->supplier trade graph (distinct
    // orders⋈lineitem pairs, both directions), 4 synchronous steps.
    // Every step is integer floor arithmetic (Graph.pageRankMicro), so
    // the oracle replays the unrolled iteration bit-for-bit — no float
    // ever enters. Scale shape: edges persisted once; per step one
    // ranks⋈outdeg node join, the src-keyed edge join, and the one
    // unavoidable dst-keyed exchange with map-side integer SUM combine.
    Query("q95_pagerank", (s, dir) => {
      // long node keys (customers even, suppliers odd — strings would
      // double every exchange's bytes), ONE direction distincted (a
      // 600k-row exchange) then mirrored — the directions are disjoint
      // by construction, so assumeDistinct skips a second 1.2M-row
      // dedup exchange inside the operator
      val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
      // round-17: mirror via a single-pass explode instead of a
      // self-union — Spark does not deduplicate common subplans, so
      // the union form computed the join+distinct subtree TWICE (once
      // per direction, ~0.9 s each at sf0.1). The multi-edge collapse
      // also moves INTO the operator (assumeDistinct = false): its
      // dedup runs under the same src partitioning as everything
      // else, so the standalone (cn, sn) distinct exchange this query
      // used to pay disappears. Same collapsed edge set, same ranks.
      val edges = pairs.select(explode(array(
          struct(col("cn").as("src"), col("sn").as("dst")),
          struct(col("sn").as("src"), col("cn").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.pageRankMicro(edges, "src", "dst", iterations = 4)
        .orderBy("node")
    },
      // q95: the integer PageRank unrolled — same edge derivation, same
      // uniform integer init, and four steps of
      // r'(v) = base + Σ floor(r(u)·85 / (100·outdeg(u))) in pure
      // integer floor arithmetic ('//' here, 'div' in Spark), so every
      // rank matches bit-for-bit. Dangling/rounding mass drops in both.
      {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    }),

    // The q95 build/serve split: the edge derivation (join + distinct
    // + mirror + out-degree fold — ~90% of q95's cost) is materialized
    // ONCE into catalog tables; this entry serves four iterations off
    // them — the standing-workload lifecycle every other index family
    // in the battery already has. Bit-identical ranks: same integer
    // arithmetic, same unrolled oracle as q95.
    Query("q95b_pagerank_serve", (s, dir) => {
      val tbl = ensureTradeEdgeTable(s, dir)
      graft.operators.Graph.pageRankMicroFromTable(s, tbl, iterations = 4)
        .orderBy("node")
    },
      // q95b: identical semantics to q95 (the lifecycle split changes
      // where the edges live, not one bit of the arithmetic), so the
      // oracle is the same unrolled replay.
      {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    }),

    // The graph family's STREAMING leg (Maintenance.streamingGraphEdges
    // — the build/serve/streaming triad the n-gram, MinHash, and IVFADC
    // families already close): the trade graph's one-direction pairs
    // arrive in 3 micro-batches over MemoryStream, each batch merging
    // through the ledgered staged swap (re-collapse + out-degree
    // re-fold — graph appends are not row-idempotent), mirroring done
    // DECLARATIVELY on the stream (a streaming self-union, so the
    // driver holds one direction only); serve is the same
    // pageRankMicroFromTable as q95b and must answer the q95 unrolled
    // oracle verbatim — bit-identical integer ranks regardless of how
    // the edges arrived.
    Query("q95c_pagerank_stream", (s, dir) => {
      import s.implicits._
      val tbl = s"graft_q95c_edges_${dataTag(s, dir, "orders", "lineitem")}"
      if (!s.catalog.tableExists(tbl)) {
        val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
          .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("cn"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          .as[(Long, Long)].collect().sortBy(identity)
        streamRows(s, pairs) { (in, ckpt) =>
          val base = in.toDF("cn", "sn")
          val edges = base.select(col("cn").as("src"), col("sn").as("dst"))
            .unionByName(base.select(col("sn").as("src"), col("cn").as("dst")))
          graft.streaming.Maintenance.streamingGraphEdges(
            edges, "src", "dst", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
        s.catalog.refreshTable(tbl + "_nodes")
      }
      graft.operators.Graph.pageRankMicroFromTable(s, tbl, iterations = 4)
        .orderBy("node")
    },
      // q95c: streamed arrival changes WHERE the edges accumulated, not
      // one bit of the arithmetic — the ledgered merges must converge to
      // exactly the q95 edge set and out-degrees, so the oracle is the
      // same unrolled replay once more.
      {
      val prelude =
        """WITH pairs AS (
             SELECT DISTINCT 2 * o_custkey AS cn, 2 * l_suppkey + 1 AS sn
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           e AS (SELECT cn AS src, sn AS dst FROM pairs
                 UNION SELECT sn, cn FROM pairs),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    }),

    // Outlink extraction + URL canonicalization (the courlan/surt
    // rules): every link species from the linkPages fixture through
    // the real state machine and the canonicalizer — entity-decoded
    // hrefs, relative resolution against the page's base URL, case/
    // port/dot-segment/tracking-param/fragment normalization, chrome
    // flagging, and mailto: NULLing. The oracle states every expected
    // canonical form closed-form from the template inputs.
    Query("q113_link_canonical", (s, dir) => {
      val pages = linkPages(s, dir)
      graft.operators.Html.extractLinks(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("base_url")), "doc_id")
        .select(col("doc_id"), col("link_pos"),
          graft.operators.Url.resolve(col("base_url"), col("href"))
            .as("canonical_url"),
          graft.operators.Url.host(
            graft.operators.Url.resolve(col("base_url"), col("href")))
            .as("host"),
          col("in_chrome"))
        .orderBy("doc_id", "link_pos")
    },
      // q113: every canonical form stated closed-form from the template
      // inputs — the engine's parser/resolver/canonicalizer must land on
      // exactly these strings or the hash breaks.
      """WITH k AS (SELECT doc_id,
                'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS h
              FROM documents),
         p AS (SELECT CAST(unnest(range(5)) AS INT) AS link_pos)
         SELECT doc_id, link_pos,
                CASE link_pos
                  WHEN 0 THEN 'https://' || h || '/home'
                  WHEN 1 THEN 'https://www.example.com/a/c/d.html?a=1&b=2'
                  WHEN 2 THEN 'https://' || h || '/other/page' ||
                              CAST(doc_id AS VARCHAR) || '.html?z=1'
                  WHEN 3 THEN 'https://cdn.example.com/lib.js'
                END AS canonical_url,
                CASE link_pos
                  WHEN 0 THEN h
                  WHEN 1 THEN 'www.example.com'
                  WHEN 2 THEN h
                  WHEN 3 THEN 'cdn.example.com'
                END AS host,
                link_pos = 0 AS in_chrome
         FROM k CROSS JOIN p
         ORDER BY doc_id, link_pos"""),

    // The full web-graph composition, end to end from raw HTML: pages
    // → extractLinks → hostEdges (resolve + canonicalize + host fold,
    // already distinct) → exact-integer PageRank over the host graph.
    // 20 site hosts each link themselves, www, and cdn — 22 nodes, 60
    // edges whose structure the oracle re-derives closed-form from
    // the template, then replays the 4-step integer unroll exactly as
    // q95 does (string node keys this time).
    Query("q114_host_pagerank", (s, dir) => {
      val pages = linkPages(s, dir)
      val links = graft.operators.Html.extractLinks(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("base_url")), "doc_id")
      val edges = graft.operators.Url.hostEdges(links, "base_url", "href")
      graft.operators.Graph.pageRankMicro(edges, "src_host", "dst_host",
          iterations = 4, assumeDistinct = true)
        .orderBy("node")
    },
      // q114: the host-graph structure re-derived from the template
      // (each site host links itself, www, cdn; mailto contributes
      // nothing), then the same 4-step integer unroll as q95 over
      // string node keys.
      {
      val prelude =
        """WITH hosts AS (
             SELECT DISTINCT 'site' || CAST(doc_id % 20 AS VARCHAR) ||
                    '.example.com' AS h
             FROM documents),
           e AS (SELECT h AS src, h AS dst FROM hosts
                 UNION SELECT h, 'www.example.com' FROM hosts
                 UNION SELECT h, 'cdn.example.com' FROM hosts),
           nd AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
           outdeg AS (SELECT src AS node, count(1) AS od FROM e GROUP BY 1),
           nn AS (SELECT count(1) AS n FROM nd),
           r0 AS (SELECT node, 1000000000 // nn.n AS r FROM nd CROSS JOIN nn)"""
      val steps = (1 to 4).map { i =>
        s""",
           r$i AS (
             SELECT nd.node,
                    (SELECT 15000000000 // (100 * n) FROM nn) + coalesce(m.s, 0) AS r
             FROM nd LEFT JOIN (
               SELECT e.dst AS node, sum((p.r * 85) // (100 * o.od)) AS s
               FROM r${i - 1} p JOIN outdeg o ON o.node = p.node
                                JOIN e ON e.src = p.node
               GROUP BY e.dst) m ON m.node = nd.node)"""
      }.mkString
      prelude + steps +
        " SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4 ORDER BY node"
    }),

    // Streaming component-catalog lifecycle: chain pairs (doc, doc−1)
    // for doc_id%10 ∈ {1,2,3} delivered in 3 micro-batches — batches
    // split chains mid-link, so cross-batch merges and remap path
    // compression are both live — then served off the catalog. Every
    // (node, component) row is closed-form: chains of four, component
    // = the chain's x0 node, truncated at the corpus edge.
    Query("q126_components_stream", (s, dir) => {
      import s.implicits._
      val tag = docsTag(s, dir)
      val tbl = s"graft_q126_comp_$tag"
      if (!s.catalog.tableExists(tbl)) {
        val pairs = t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(10)).between(1, 3))
          .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
          .as[(Long, Long)].collect()
        streamRows(s, pairs) { (in, ckpt) =>
          graft.streaming.Maintenance.streamingComponents(
            in.toDF("a", "b"), "a", "b", tbl, ckpt)
        }
        s.catalog.refreshTable(tbl)
        s.catalog.refreshTable(tbl + "_remap")
      }
      graft.operators.Components.componentsFromTable(s, tbl)
        .orderBy("node")
    },
      // q126: chain components closed-form — a node appears iff it is an
      // endpoint of some (id, id−1) edge with id%10 ∈ {1,2,3} inside the
      // corpus id range; its component is the chain's x0 = id − id%10
      // (corpus-edge truncation handled by the endpoint conditions).
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents)
         SELECT doc_id AS node, doc_id - (doc_id % 10) AS component
         FROM documents, mx
         WHERE (doc_id % 10 BETWEEN 1 AND 3)
            OR (doc_id % 10 <= 2 AND doc_id + 1 <= m)
         ORDER BY node""")
  )
}

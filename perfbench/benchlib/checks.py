"""Output checks, run after the timed window on what the JVM dumped.

Medallion: the epoch-resolved gold tables after each batch, against an
independent DuckDB computation over the batch files that were landed.
Corpus: the cluster table after each op, against connected components of
brute-force near-duplicate pairs over the live documents, and the registry
query's result against its DuckDB oracle SQL."""
import duckdb

MEDALLION_CHECKS = {
    # one row per customer_id, carrying its latest delivered attributes
    "customer_dim": """
WITH d AS (SELECT * FROM landed('customers')),
latest AS (SELECT * FROM d QUALIFY row_number() OVER
  (PARTITION BY customer_id ORDER BY batch DESC) = 1)
SELECT
  (SELECT count(*) FROM dim) - (SELECT count(DISTINCT customer_id) FROM dim)
    AS duplicate_rows,
  (SELECT count(*) FROM latest l FULL OUTER JOIN dim g USING (customer_id)
   WHERE l.customer_id IS NULL OR g.customer_id IS NULL
      OR g.first_name IS DISTINCT FROM l.first_name
      OR g.last_name IS DISTINCT FROM l.last_name
      OR g.email IS DISTINCT FROM l.email
      OR g.city IS DISTINCT FROM l.city
      OR g.state IS DISTINCT FROM l.state
      OR g.domains IS DISTINCT FROM split_part(l.email, '@', 2)
      OR g.fullname IS DISTINCT FROM l.first_name || ' ' || l.last_name)
    AS wrong_rows""",
    # exactly one current row per product_id with the latest attributes,
    # plus one expired row per tracked-attribute change
    "product_dim": """
WITH d AS (SELECT *, upper(brand) AS ubrand FROM landed('products')),
changes AS (SELECT product_id, count(*) FILTER (WHERE prev IS NOT NULL
    AND prev IS DISTINCT FROM cur) AS n_changes
  FROM (SELECT product_id, struct_pack(ubrand, price, supplier) AS cur,
      lag(struct_pack(ubrand, price, supplier)) OVER
        (PARTITION BY product_id ORDER BY batch) AS prev FROM d)
  GROUP BY product_id),
latest AS (SELECT * FROM d QUALIFY row_number() OVER
  (PARTITION BY product_id ORDER BY batch DESC) = 1),
got AS (SELECT product_id, count(*) FILTER (WHERE is_current) AS n_current,
    count(*) FILTER (WHERE NOT is_current) AS n_expired FROM dim
  GROUP BY product_id)
SELECT
  (SELECT count(*) FROM changes c FULL OUTER JOIN got g USING (product_id)
   WHERE c.product_id IS NULL OR g.product_id IS NULL OR g.n_current <> 1
      OR g.n_expired <> c.n_changes) AS wrong_versions,
  (SELECT count(*) FROM latest l FULL OUTER JOIN
     (SELECT * FROM dim WHERE is_current) g USING (product_id)
   WHERE l.product_id IS NULL OR g.product_id IS NULL
      OR g.brand IS DISTINCT FROM l.ubrand
      OR g.price IS DISTINCT FROM l.price
      OR g.supplier IS DISTINCT FROM l.supplier
      OR g.product_name IS DISTINCT FROM l.product_name
      OR g.category IS DISTINCT FROM l.category) AS wrong_current""",
    # one row per order_id, carrying its latest delivered amounts
    "order_fact": """
WITH d AS (SELECT * FROM landed('orders')),
latest AS (SELECT * FROM d QUALIFY row_number() OVER
  (PARTITION BY order_id ORDER BY batch DESC) = 1)
SELECT
  (SELECT count(*) FROM dim) - (SELECT count(DISTINCT order_id) FROM dim)
    AS duplicate_rows,
  (SELECT count(*) FROM latest l FULL OUTER JOIN dim g USING (order_id)
   WHERE l.order_id IS NULL OR g.order_id IS NULL
      OR g.quantity IS DISTINCT FROM l.quantity
      OR g.total_amount IS DISTINCT FROM l.total_amount
      OR g.order_date IS DISTINCT FROM CAST(l.order_date AS TIMESTAMP))
    AS wrong_rows""",
}


class MedallionCheck:
    """Gold tables after batch b against the batches 0..b that were landed."""

    def __init__(self, landing_dir, tmp_dir):
        self.landing = landing_dir
        self.con = duckdb.connect()
        self.con.execute("SET temp_directory = '%s'" % tmp_dir)
        self.con.execute("SET threads = 2")

    def check(self, op):
        """None when every gold table is right after the op's batch, else a
        reason."""
        batch, gold_dumps = int(op["batch"]), op["gold"]
        problems = []
        for table, sql in MEDALLION_CHECKS.items():
            entity = {"customer_dim": "customers", "product_dim": "products",
                      "order_fact": "orders"}[table]
            files = ", ".join("'%s/%s/b%d.parquet'" % (self.landing, entity, b)
                              for b in range(batch + 1))
            landed = ("(SELECT *, CAST(regexp_extract(filename, 'b([0-9]+)\\.parquet$', 1)"
                      " AS INTEGER) AS batch FROM read_parquet([%s], filename = true))"
                      % files)
            q = sql.replace("landed('%s')" % entity, landed)
            self.con.execute("CREATE OR REPLACE VIEW dim AS SELECT * FROM '%s/*.parquet'"
                             % gold_dumps[table])
            rel = self.con.sql(q)
            counts = dict(zip(rel.columns, rel.fetchone()))
            bad = {k: v for k, v in counts.items() if v}
            if bad:
                problems.append("%s: %s" % (table, bad))
        return "; ".join(problems) or None


def shingles(text):
    """Distinct 3-word shingles of a document (the whole trimmed, lowered
    text when it has fewer than three words)."""
    words = text.strip().lower().split()
    if len(words) < 3:
        return frozenset([text.strip().lower()])
    return frozenset(" ".join(words[i:i + 3]) for i in range(len(words) - 2))


def near_dup_pairs(docs):
    """Every pair (a, b), a < b, of documents in the same language and
    100-character length bucket whose shingle sets have Jaccard >= 0.2:
    the text cluster store's recipe, computed here by brute force.
    `docs` are (doc_id, text, lang, n_chars) tuples."""
    blocks = {}
    for doc_id, text, lang, n_chars in docs:
        blocks.setdefault((lang, n_chars // 100), []).append(
            (doc_id, shingles(text)))
    pairs = []
    for members in blocks.values():
        members.sort()
        for i, (a, sa) in enumerate(members):
            for b, sb in members[i + 1:]:
                if round(len(sa & sb) / len(sa | sb), 6) >= 0.2:
                    pairs.append((a, b))
    return pairs


def components(doc_ids, pairs):
    """{doc_id: (cluster_id, is_kept)}: connected components of `pairs`
    over `doc_ids` (pairs touching other docs are ignored), each labelled
    by its least doc id, kept iff it is that doc."""
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for d in doc_ids:
        c = find(d)
        out[d] = (c, 1 if c == d else 0)
    return out


class CorpusCheck:
    """Cluster tables after each maintenance op against connected
    components of brute-force near-duplicate pairs over the documents live
    after that op; the registry query's result also against its DuckDB
    oracle SQL over the same live documents."""

    def __init__(self, corpus_dir, parts, deleted_residue, oracle_sql, tmp_dir):
        self.dir = corpus_dir
        self.deleted = deleted_residue
        self.oracle_sql = oracle_sql
        self.con = duckdb.connect()
        self.con.execute("SET temp_directory = '%s'" % tmp_dir)
        self.con.execute("SET threads = 2")
        self.docs = {}
        for part in parts:
            self.docs[part] = self.con.sql(
                "SELECT doc_id, text, lang, n_chars FROM '%s/%s/*.parquet'"
                % (self.dir, part)).fetchall()
        self.pairs = near_dup_pairs([d for p in self.docs.values() for d in p])

    def _live(self, parts, after_delete):
        return [d[0] for p in parts for d in self.docs[p]
                if not (after_delete and d[0] % 13 == self.deleted)]

    def _got(self, dump):
        return {r[0]: (r[1], r[2]) for r in self.con.sql(
            "SELECT doc_id, cluster_id, is_kept FROM '%s/*.parquet'" % dump)
            .fetchall()}

    @staticmethod
    def _diff(got, want, what):
        bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        return None if bad == 0 else "%d docs differ from %s" % (bad, what)

    def check(self, op):
        """None when the op's clusters are right, else a reason."""
        parts = op["live_parts"]
        live = self._live(parts, op["after_delete"])
        got = self._got(op["clusters"])
        why = self._diff(got, components(live, self.pairs),
                         "components of the brute-force pairs")
        if why is None and op.get("oracle"):
            files = ", ".join("'%s/%s/*.parquet'" % (self.dir, p) for p in parts)
            where = (" WHERE doc_id %% 13 <> %d" % self.deleted
                     if op["after_delete"] else "")
            self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT *"
                             " FROM read_parquet([%s])%s" % (files, where))
            want = {r[0]: (r[1], r[2]) for r in self.con.sql(
                "SELECT doc_id, cluster_id, is_kept FROM (%s)" % self.oracle_sql)
                .fetchall()}
            why = self._diff(got, want, "the DuckDB oracle")
        return why

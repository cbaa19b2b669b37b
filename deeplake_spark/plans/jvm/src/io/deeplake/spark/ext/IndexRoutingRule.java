package io.deeplake.spark.ext;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.expressions.Add;
import org.apache.spark.sql.catalyst.expressions.Alias;
import org.apache.spark.sql.catalyst.expressions.And;
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate;
import org.apache.spark.sql.catalyst.expressions.ArrayContains;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.Cast;
import org.apache.spark.sql.catalyst.expressions.Descending$;
import org.apache.spark.sql.catalyst.expressions.Divide;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GreaterThan;
import org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual;
import org.apache.spark.sql.catalyst.expressions.In;
import org.apache.spark.sql.catalyst.expressions.LambdaFunction;
import org.apache.spark.sql.catalyst.expressions.LessThan;
import org.apache.spark.sql.catalyst.expressions.LessThanOrEqual;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.Literal$;
import org.apache.spark.sql.catalyst.expressions.Lower;
import org.apache.spark.sql.catalyst.expressions.Multiply;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable;
import org.apache.spark.sql.catalyst.expressions.SortOrder;
import org.apache.spark.sql.catalyst.expressions.Sqrt;
import org.apache.spark.sql.catalyst.expressions.StringSplit;
import org.apache.spark.sql.catalyst.expressions.Subtract;
import org.apache.spark.sql.catalyst.expressions.ZipWith;
import org.apache.spark.sql.catalyst.plans.LeftSemi$;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit;
import org.apache.spark.sql.catalyst.plans.logical.Join;
import org.apache.spark.sql.catalyst.plans.logical.JoinHint;
import org.apache.spark.sql.catalyst.plans.logical.LocalLimit;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.plans.logical.Sort;
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.ArrayType;
import org.apache.spark.sql.types.Decimal;
import org.apache.spark.sql.types.NumericType;
import org.apache.spark.sql.types.StringType;

import scala.Option;

/**
 * Catalyst rule: route filters over REGISTERED datasets through their
 * persisted side-table indexes, so plain {@code spark.sql} users get the
 * same posting-table semijoins the TQL translator emits
 * (deeplake_spark/tql/translator.py _try_index_rewrite; reference behavior:
 * every query consults index_holder, cpp/query_core/index_holder.hpp:18-43).
 *
 * Matched shapes (each conjunct judged independently; unmatched conjuncts
 * stay in a residual Filter):
 *
 * <ul>
 *  <li>{@code array_contains(split(lower(col), '\\s+'), 'kw')} on a column
 *      with an inverted index &rarr; posting probe (term-bucket pruned)
 *      semijoined on the row-id column. This is the Spark-SQL spelling of
 *      TQL's token-level CONTAINS; Spark's substring {@code contains()} is
 *      deliberately NOT routed &mdash; a token index cannot answer substring
 *      semantics and the rewrite must be exact, never approximate.</li>
 *  <li>comparisons / BETWEEN (parsed to &ge; + &le;) / IN / = on a column
 *      with a numeric index &rarr; range-bucket-pruned value probe.</li>
 * </ul>
 *
 * Safety: the rule no-ops unless {@code spark.sql.deeplake.routing.enabled}
 * is true AND the registry is non-empty, never rewrites when the row-id
 * column is absent from the relation, and any internal error falls back to
 * the untouched plan (routing must never break planning). Works both as a
 * resolution rule (SparkSessionExtensions path, pre-pushdown shape
 * Filter&rarr;SubqueryAlias&rarr;Relation) and as an extraOptimizations rule
 * (runtime install, post-pushdown shape Filter&rarr;Relation).
 */
public class IndexRoutingRule extends Rule<LogicalPlan> {

    public static final String ENABLED_KEY = "spark.sql.deeplake.routing.enabled";

    /** Selectivity cost gate (mirrors the reference's pg_costestimate,
     *  cpp/deeplake_pg/index_search.cpp:316-420, fed by planner stats
     *  from column_statistics.cpp:278-356): a predicate whose
     *  persisted-stats estimate keeps MORE than this fraction of rows
     *  is NOT routed — its posting/value probe side would be
     *  near-corpus-size, and semijoining it shuffles ~the corpus to
     *  avoid a filter Parquet evaluates in place. Unknown stats (no
     *  manifest meta) route as before. Shared with the TQL routes. */
    public static final String MAX_SELECTIVITY_KEY =
            "spark.sql.deeplake.routing.maxSelectivity";
    static final double DEFAULT_MAX_SELECTIVITY = 0.1;

    /** Corpus-size cost floor — the SECOND term of the reference's
     *  cost model (pg_costestimate weighs index cost against the scan
     *  cost, cpp/deeplake_pg/index_search.cpp:247-420; selectivity
     *  alone is only half of it). Below the floor the stock
     *  pushed-down scan finishes before the routed lane's probe +
     *  semijoin + one-off plan-time range job pay off (measured:
     *  SCALING.md numeric-BETWEEN table — a 2x steady-state loss at
     *  5k rows, break-even ~160k, 1.9x win at 640k). Applies ONLY to
     *  routes whose stock alternative is a cheap per-row compare the
     *  parquet reader evaluates in place (numeric BETWEEN/IN/
     *  comparison, exact digest equality); token-CONTAINS is EXEMPT —
     *  its stock scan pays a per-row tokenize that grows with corpus
     *  CPU (routed is within noise at x1 and wins 3-7x from x32, gate
     *  table). Corpus size comes from the same manifest meta the
     *  selectivity gate reads; unknown fails open. Shared conf name
     *  with the TQL routes (operators/indexes.py). */
    public static final String MIN_CORPUS_ROWS_KEY =
            "spark.sql.deeplake.routing.minCorpusRows";
    static final long DEFAULT_MIN_CORPUS_ROWS = 200_000L;

    /** Probe → row-group pruning (mirrors the reference's roaring
     *  bitmap → chunk-granular reads, cpp/icm/roaring.hpp +
     *  cpp/query_core/index_holder.hpp:37-40): at route time the
     *  probe's per-{@code RANGE_GRANULE} row-id min/max rows (the
     *  inverted index's build-time granule table; one aggregate over
     *  any other probe) are coalesced into at most {@code MAX_RANGES}
     *  [lo, hi] ranges and pushed as a LITERAL BETWEEN-OR filter on
     *  the corpus scan — so parquet row-group/page stats skip the
     *  corpus I/O outside them (the ingest layout is row-id-sorted).
     *  The semijoin stays on top: ranges are pure I/O pruning, never a
     *  correctness surface. Skipped when the ranges would cover more
     *  than {@code MAX_RANGE_COVERAGE} of the corpus (nothing to skip).
     *  The same constants as the TQL route (operators/indexes.py);
     *  {@code rangePrune=false} is the kill switch for layouts that are
     *  not id-sorted. */
    public static final String RANGE_PRUNE_KEY =
            "spark.sql.deeplake.routing.rangePrune";
    static final long RANGE_GRANULE = 65536;
    static final int MAX_RANGES = 64;
    static final double MAX_RANGE_COVERAGE = 0.8;
    /** probes touching more granules than this bail out of range
     *  pruning (bounds the plan-time collect; such probes cannot
     *  prune meaningfully anyway). */
    static final int RANGE_CHUNK_CAP = 4096;

    /** re-entrancy guard: probe plans are themselves analyzed/optimized. */
    private static final ThreadLocal<Boolean> IN_REWRITE =
            ThreadLocal.withInitial(() -> Boolean.FALSE);

    private final SparkSession session;

    public IndexRoutingRule(SparkSession session) {
        this.session = session;
    }

    @Override
    public LogicalPlan apply(LogicalPlan plan) {
        if (IndexRegistry.isEmpty() || IN_REWRITE.get()) {
            return plan;
        }
        try {
            if (!"true".equalsIgnoreCase(
                    session.conf().get(ENABLED_KEY, "false"))) {
                return plan;
            }
            IN_REWRITE.set(Boolean.TRUE);
            return rewrite(plan);
        } catch (Throwable t) {
            return plan;
        } finally {
            IN_REWRITE.set(Boolean.FALSE);
        }
    }

    private LogicalPlan rewrite(LogicalPlan plan) {
        List<LogicalPlan> kids = new ArrayList<>();
        boolean changed = false;
        scala.collection.Iterator<LogicalPlan> it = plan.children().iterator();
        while (it.hasNext()) {
            LogicalPlan c = it.next();
            LogicalPlan r = rewrite(c);
            changed |= (r != c);
            kids.add(r);
        }
        LogicalPlan node = changed ? plan.withNewChildren(toSeq(kids)) : plan;
        if (node instanceof Filter) {
            LogicalPlan routed = tryRoute((Filter) node);
            if (routed != null) {
                return routed;
            }
        }
        if (node instanceof GlobalLimit) {
            LogicalPlan routed = tryRouteTopK((GlobalLimit) node);
            if (routed != null) {
                return routed;
            }
        }
        return node;
    }

    // ------------------------------------------------------------------

    private LogicalPlan tryRoute(Filter f) {
        if (!f.resolved()) {
            return null;
        }
        LogicalPlan child = f.child();
        LogicalPlan base = child;
        // descend to the scan through name-preserving wrappers only:
        // aliases, views, and PURE attribute projections (a Project that
        // computes or renames could shadow an indexed column's name and
        // make name-based matching unsound)
        while (true) {
            if (base instanceof SubqueryAlias) {
                base = ((SubqueryAlias) base).child();
            } else if (base instanceof org.apache.spark.sql.catalyst.plans.logical.View) {
                base = ((org.apache.spark.sql.catalyst.plans.logical.View) base).child();
            } else if (base instanceof org.apache.spark.sql.catalyst.plans.logical.Project
                    && attributesOnly((org.apache.spark.sql.catalyst.plans.logical.Project) base)) {
                base = ((org.apache.spark.sql.catalyst.plans.logical.Project) base).child();
            } else {
                break;
            }
        }
        if (!(base instanceof LogicalRelation)) {
            return null;
        }
        Object rel = ((LogicalRelation) base).relation();
        if (!(rel instanceof HadoopFsRelation)) {
            return null;
        }
        List<String> paths = new ArrayList<>();
        scala.collection.Iterator<org.apache.hadoop.fs.Path> pit =
                ((HadoopFsRelation) rel).location().rootPaths().iterator();
        while (pit.hasNext()) {
            paths.add(pit.next().toString());
        }
        Map<String, IndexRegistry.Entry> byCol = IndexRegistry.lookupByPaths(paths);
        if (byCol == null) {
            return null;
        }

        List<Expression> residual = new ArrayList<>();
        List<Routed> probes = new ArrayList<>();
        Map<String, Range> ranges = new HashMap<>();
        double maxSel = confDouble(MAX_SELECTIVITY_KEY,
                DEFAULT_MAX_SELECTIVITY);
        long minRows = confLong(MIN_CORPUS_ROWS_KEY,
                DEFAULT_MIN_CORPUS_ROWS);
        boolean rangePrune = "true".equalsIgnoreCase(
                session.conf().get(RANGE_PRUNE_KEY, "true"));

        scala.collection.Iterator<Expression> cit =
                f.splitConjunctivePredicates(f.condition()).iterator();
        while (cit.hasNext()) {
            Expression c = cit.next();
            String[] tok = matchTokenContains(c);
            if (tok != null) {
                IndexRegistry.Entry en = byCol.get(tok[0]);
                if (en != null && "inverted".equals(en.kind)
                        && hasAttr(child, en.idCol)
                        && routable(invertedSelectivity(en, tok[1]),
                                maxSel)) {
                    probes.add(new Routed(invertedProbe(en, tok[1]), en,
                            "inv|" + tok[1], invertedNDocs(en),
                            () -> invertedGranules(en, tok[1])));
                    continue;
                }
            }
            String[] eqs = matchStringEquality(c);
            if (eqs != null) {
                IndexRegistry.Entry en = byCol.get(eqs[0]);
                if (en != null && "exact".equals(en.kind)
                        && hasAttr(child, en.idCol)
                        && corpusFloorOk(exactN(en), minRows)
                        && routable(exactSelectivity(en, eqs[1]),
                                maxSel)) {
                    probes.add(new Routed(exactProbe(en, eqs[1]), en,
                            "ex|" + eqs[1], exactN(en), null));
                    // digest lookup prunes; the equality itself is KEPT
                    // as a residual so an md5 collision can never admit
                    // a wrong row (exactness is ~free: it runs on the
                    // handful of post-semijoin rows)
                    residual.add(c);
                    continue;
                }
            }
            // with range pruning ON, predicates on a registered ROW-ID
            // column never route: the id-sorted ingest layout already
            // serves them via parquet min/max stats, and skipping them
            // keeps the rule's own synthetic range filters from
            // re-routing at the fixed point. With pruning OFF (the
            // documented kill switch for layouts that are NOT id-sorted,
            // where parquet stats can't serve these predicates) no
            // synthetic filters exist, so id-col predicates may route.
            InMatch in = matchIn(c);
            if (in != null && (!rangePrune || !isIdCol(byCol, in.column))) {
                IndexRegistry.Entry en = byCol.get(in.column);
                if (en != null && "numeric".equals(en.kind)
                        && hasAttr(child, en.idCol)
                        && corpusFloorOk(numericN(en), minRows)
                        && routable(estInSel(readNumMeta(en.indexPath),
                                in.values), maxSel)) {
                    probes.add(new Routed(inProbe(en, in.values), en,
                            "in|" + in.values, numericN(en), null));
                    continue;
                }
            }
            Bound[] bt = matchBetween(c);
            if (bt != null && (!rangePrune || !isIdCol(byCol, bt[0].column))) {
                IndexRegistry.Entry en = byCol.get(bt[0].column);
                if (en != null && "numeric".equals(en.kind)
                        && hasAttr(child, en.idCol)) {
                    Range r = ranges.computeIfAbsent(bt[0].column,
                            k -> new Range(en));
                    r.add(bt[0]);
                    r.add(bt[1]);
                    r.sources.add(c);
                    continue;
                }
            }
            Bound b = matchComparison(c);
            if (b != null && (!rangePrune || !isIdCol(byCol, b.column))) {
                IndexRegistry.Entry en = byCol.get(b.column);
                if (en != null && "numeric".equals(en.kind)
                        && hasAttr(child, en.idCol)) {
                    Range r = ranges.computeIfAbsent(b.column,
                            k -> new Range(en));
                    r.add(b);
                    r.sources.add(c);
                    continue;
                }
            }
            residual.add(c);
        }
        for (Range r : ranges.values()) {
            // gate on the TIGHTENED bounds — several conjuncts may
            // combine into one selective range; if the range would
            // keep too much, its conjuncts return to the residual
            // filter and the stock scan evaluates them in place
            double sel = estRangeSel(readNumMeta(r.entry.indexPath),
                    r.lo, r.hi);
            if (!routable(sel, maxSel)
                    || !corpusFloorOk(numericN(r.entry), minRows)) {
                residual.addAll(r.sources);
                continue;
            }
            probes.add(new Routed(rangeProbe(r), r.entry, "rg|" + r.lo
                    + "|" + r.loStrict + "|" + r.hi + "|" + r.hiStrict,
                    numericN(r.entry), null));
        }
        if (probes.isEmpty()) {
            return null;
        }

        // probe → corpus row-group pruning: summarize each probe's row
        // ids into coalesced literal ranges and filter the corpus scan
        // BEFORE the semijoins, so parquet min/max stats skip I/O
        Expression rangePred = null;
        if (rangePrune) {
            for (Routed r : probes) {
                Attribute idAttr = findAttr(child.output(), r.idCol);
                if (idAttr == null || !(idAttr.dataType()
                        instanceof org.apache.spark.sql.types.IntegralType)) {
                    continue;
                }
                List<long[]> rs = cachedRanges(r);
                if (rs == null || rs.isEmpty()) {
                    continue;
                }
                Expression p = rangesPred(idAttr, rs);
                if (p != null) {
                    rangePred = rangePred == null ? p
                            : new And(rangePred, p);
                }
            }
        }

        LogicalPlan joined = rangePred == null ? child
                : new Filter(rangePred, child);
        for (Routed r : probes) {
            Attribute idAttr = findAttr(child.output(), r.idCol);
            if (idAttr == null) {
                return null;
            }
            LogicalPlan probePlan = r.probe.queryExecution().optimizedPlan();
            Attribute probeAttr = findAttr(probePlan.output(), "row_id");
            if (probeAttr == null) {
                return null;
            }
            joined = new Join(joined, probePlan, LeftSemi$.MODULE$,
                    Option.apply(new EqualTo(idAttr, probeAttr)),
                    JoinHint.NONE());
        }
        if (residual.isEmpty()) {
            return joined;
        }
        Expression cond = residual.get(0);
        for (int i = 1; i < residual.size(); i++) {
            cond = new And(cond, residual.get(i));
        }
        return new Filter(cond, joined);
    }

    // ------------------------------------------------- filesystem I/O

    /** Hadoop Configuration of the owning session (built lazily, once
     *  per rule instance): ALL probe-side metadata I/O goes through the
     *  Hadoop FileSystem API, so routing works when indexes live on
     *  object storage (s3a://, gs://, hdfs://) — the 100 TB deployment
     *  shape — not only on the driver-local disk (the reference serves
     *  indexes from any storage backend,
     *  python/deeplake/storage.pyi:26-121). */
    private org.apache.hadoop.conf.Configuration hadoopConf;

    private org.apache.hadoop.conf.Configuration hconf() {
        if (hadoopConf == null) {
            hadoopConf = ((org.apache.spark.sql.classic.SparkSession) session)
                    .sessionState().newHadoopConf();
        }
        return hadoopConf;
    }

    /** Safe integer conf read: a malformed user value falls back to the
     *  default instead of failing analysis of every query (the rule's
     *  stay-stock-on-failure convention). */
    private int confInt(String key, int def) {
        try {
            return Integer.parseInt(
                    session.conf().get(key, Integer.toString(def)).trim());
        } catch (Exception e) {
            return def;
        }
    }

    private double confDouble(String key, double def) {
        try {
            return Double.parseDouble(
                    session.conf().get(key, Double.toString(def)).trim());
        } catch (Exception e) {
            return def;
        }
    }

    // ------------------------------------------------ side-table manifests

    /** Parsed-manifest LRU. A side table's state is its newest
     *  `_log/NNNNNNNN.json` manifest (the Python writer's snapshot
     *  protocol, indexes.write_side_table): it lists the table files
     *  and carries the index meta. Manifests are never rewritten, so
     *  (path, mtime, length) of the newest one keys everything read
     *  from it — stats are consulted on EVERY candidate route, so they
     *  cost one `_log` listing per planned query, not a read. */
    private static final Map<String, com.fasterxml.jackson.databind.JsonNode>
            MANIFESTS = java.util.Collections.synchronizedMap(
                    new java.util.LinkedHashMap<String,
                            com.fasterxml.jackson.databind.JsonNode>(
                            32, 0.75f, true) {
                        @Override
                        protected boolean removeEldestEntry(Map.Entry<String,
                                com.fasterxml.jackson.databind.JsonNode> e) {
                            return size() > 128;
                        }
                    });

    /** Cache key of the index's newest manifest, or null when it has
     *  none or `_log` cannot be listed (routing then stays stock). */
    private String manifestKey(String indexPath) {
        try {
            org.apache.hadoop.fs.Path log =
                    new org.apache.hadoop.fs.Path(indexPath, "_log");
            org.apache.hadoop.fs.FileStatus newest = null;
            for (org.apache.hadoop.fs.FileStatus st
                    : log.getFileSystem(hconf()).listStatus(log)) {
                String name = st.getPath().getName();
                if (name.endsWith(".json") && (newest == null || name
                        .compareTo(newest.getPath().getName()) > 0)) {
                    newest = st;
                }
            }
            return newest == null ? null : newest.getPath() + "|"
                    + newest.getModificationTime() + "|" + newest.getLen();
        } catch (Exception e) {
            return null;
        }
    }

    /** The index's newest manifest, or null (no manifest, unreadable). */
    private com.fasterxml.jackson.databind.JsonNode manifest(String indexPath) {
        return parsed(manifestKey(indexPath));
    }

    /** The manifest under a `manifestKey`, parsed once per key. */
    private com.fasterxml.jackson.databind.JsonNode parsed(String key) {
        if (key == null) {
            return null;
        }
        com.fasterxml.jackson.databind.JsonNode hit = MANIFESTS.get(key);
        if (hit != null) {
            return hit;
        }
        org.apache.hadoop.fs.Path p = new org.apache.hadoop.fs.Path(
                key.substring(0, key.indexOf('|')));
        try (org.apache.hadoop.fs.FSDataInputStream in =
                     p.getFileSystem(hconf()).open(p)) {
            hit = new com.fasterxml.jackson.databind.ObjectMapper()
                    .readTree(in);
        } catch (Exception e) {
            return null;
        }
        MANIFESTS.put(key, hit);
        return hit;
    }

    /** The index meta of its newest manifest (heavy-hitter stats,
     *  bucket bounds, centroids, n), or null. */
    private com.fasterxml.jackson.databind.JsonNode meta(String indexPath) {
        com.fasterxml.jackson.databind.JsonNode m = manifest(indexPath);
        return m == null ? null : m.get("meta");
    }

    /** Estimated df(term)/n from the inverted index's heavy-term
     *  map; terms absent from it are rarer than the recorded
     *  floor (the build-time invariant). -1 = no stats, never gate. */
    private double invertedSelectivity(IndexRegistry.Entry en, String kw) {
        com.fasterxml.jackson.databind.JsonNode ts =
                meta(en.indexPath);
        if (ts == null) {
            return -1;
        }
        long n = ts.path("n_docs").asLong(0);
        if (n <= 0) {
            return -1;
        }
        com.fasterxml.jackson.databind.JsonNode h = ts.path("heavy").get(kw);
        if (h != null && h.isNumber()) {
            return Math.min(1.0, h.asDouble() / n);
        }
        return Math.min(1.0, ts.path("floor_frac").asDouble(1.0 / 64));
    }

    /** Estimated df(value)/n from the exact index's heavy-digest
     *  map (md5-hex keyed); digests absent from it are rarer than
     *  the recorded floor. -1 = no stats, never gate. A hot exact
     *  value (empty document, boilerplate page) is the same
     *  frequent-term hazard the inverted gate covers. */
    private double exactSelectivity(IndexRegistry.Entry en, String value) {
        com.fasterxml.jackson.databind.JsonNode ts =
                meta(en.indexPath);
        if (ts == null) {
            return -1;
        }
        long n = ts.path("n_docs").asLong(0);
        if (n <= 0) {
            return -1;
        }
        com.fasterxml.jackson.databind.JsonNode h =
                ts.path("heavy").get(md5Hex(value));
        if (h != null && h.isNumber()) {
            return Math.min(1.0, h.asDouble() / n);
        }
        return Math.min(1.0, ts.path("floor_frac").asDouble(1.0 / 64));
    }

    private static String md5Hex(String value) {
        try {
            java.security.MessageDigest md =
                    java.security.MessageDigest.getInstance("MD5");
            StringBuilder sb = new StringBuilder();
            for (byte b : md.digest(
                    value.getBytes(java.nio.charset.StandardCharsets.UTF_8))) {
                sb.append(String.format("%02x", b));
            }
            return sb.toString();
        } catch (java.security.NoSuchAlgorithmException e) {
            throw new IllegalStateException(e);
        }
    }

    /** True when `name` is the registered row-id column of any index on
     *  this dataset (such predicates are served by parquet stats on the
     *  id-sorted layout directly — and the guard keeps the rule's own
     *  synthetic range filters inert at the fixed point). */
    private static boolean isIdCol(Map<String, IndexRegistry.Entry> byCol,
                                   String name) {
        for (IndexRegistry.Entry en : byCol.values()) {
            if (en.idCol != null && en.idCol.equalsIgnoreCase(name)) {
                return true;
            }
        }
        return false;
    }

    /** Corpus size from the inverted index's manifest meta; -1 when
     *  absent (range pruning then skips only on scatter, not coverage). */
    private long invertedNDocs(IndexRegistry.Entry en) {
        com.fasterxml.jackson.databind.JsonNode ts =
                meta(en.indexPath);
        return ts == null ? -1 : ts.path("n_docs").asLong(-1);
    }

    private long numericN(IndexRegistry.Entry en) {
        NumMeta nm = readNumMeta(en.indexPath);
        return nm == null || nm.counts == null ? -1 : nm.n;
    }

    /** Corpus size from the exact index's manifest meta; -1 when
     *  absent (range pruning then skips only on scatter, not coverage). */
    private long exactN(IndexRegistry.Entry en) {
        com.fasterxml.jackson.databind.JsonNode ts =
                meta(en.indexPath);
        return ts == null ? -1 : ts.path("n_docs").asLong(-1);
    }

    // ------------------------------------- probe → row-group pruning

    /** A routed probe: its row ids (semijoined on {@code idCol}) and
     *  what its range summary needs — the memo key {@code desc}, the
     *  index whose newest manifest keys the memo too, the corpus size
     *  and the probe's (lo, hi) granule rows, built only on a memo
     *  miss (default: {@link #granuleBounds} of the probe). */
    private static final class Routed {
        final Dataset<Row> probe;
        final String idCol;
        final String desc;
        final String indexPath;
        final long nEst;
        final java.util.function.Supplier<Dataset<Row>> bounds;

        Routed(Dataset<Row> probe, IndexRegistry.Entry en, String desc,
               long nEst, java.util.function.Supplier<Dataset<Row>> bounds) {
            this.probe = probe;
            this.idCol = en.idCol;
            this.desc = desc;
            this.indexPath = en.indexPath;
            this.nEst = nEst;
            this.bounds = bounds != null ? bounds : () -> granuleBounds(probe);
        }
    }

    /** Computed range sets are memoized (the same probe is re-planned
     *  across queries and the plan-time job must not repeat): key =
     *  session | probe descriptor | index manifest, value =
     *  long[lo,hi][] or a no-ranges sentinel. Bounded LRU like the
     *  scan cache. */
    private static final Object NO_RANGES = new Object();
    private static final Map<String, Object> RANGE_CACHE =
            java.util.Collections.synchronizedMap(
                    new java.util.LinkedHashMap<String, Object>(
                            64, 0.75f, true) {
                        @Override
                        protected boolean removeEldestEntry(
                                Map.Entry<String, Object> eldest) {
                            return size() > 256;
                        }
                    });

    /** [lo, hi] row-id ranges for the corpus scan filter, or null when
     *  the probe is too scattered (> RANGE_CHUNK_CAP granule rows) or
     *  the ranges would cover more than MAX_RANGE_COVERAGE of the
     *  corpus. Runs ONE bounded job over the probe's (already
     *  partition-pruned) granule rows, coalesced driver-side. */
    @SuppressWarnings("unchecked")
    private List<long[]> cachedRanges(Routed p) {
        // keyed on the index's newest manifest: a delta append lands
        // a new one, so pre-append [lo,hi] ranges — whose corpus
        // filter would exclude the newly indexed rows before the
        // semijoin — are never served after it
        String key = ((org.apache.spark.sql.classic.SparkSession) session)
                .sessionUUID() + "|" + p.desc + "|"
                + manifestKey(p.indexPath);
        Object hit = RANGE_CACHE.get(key);
        if (hit != null) {
            return hit == NO_RANGES ? null : (List<long[]>) hit;
        }
        List<long[]> out = computeRanges(p.bounds, p.nEst);
        RANGE_CACHE.put(key, out == null ? NO_RANGES : out);
        return out;
    }

    /** Total granule-summary jobs run (memo misses) — test hook: a
     *  re-planned probe must hit RANGE_CACHE, not grow this. */
    private static final java.util.concurrent.atomic.AtomicLong
            RANGE_JOBS = new java.util.concurrent.atomic.AtomicLong();

    public static long rangeJobsRun() {
        return RANGE_JOBS.get();
    }

    /** (lo, hi) per RANGE_GRANULE block of a row_id probe — the
     *  granule rows of a probe whose index keeps no granule table. */
    private static Dataset<Row> granuleBounds(Dataset<Row> probe) {
        return probe.groupBy(functions.expr("row_id div " + RANGE_GRANULE))
                .agg(functions.min("row_id").alias("lo"),
                     functions.max("row_id").alias("hi"));
    }

    private List<long[]> computeRanges(
            java.util.function.Supplier<Dataset<Row>> granules, long nEst) {
        RANGE_JOBS.incrementAndGet();
        try {
            Dataset<Row> g = granules.get();
            if (!(g.schema().apply("lo").dataType()
                    instanceof org.apache.spark.sql.types.IntegralType)) {
                return null;
            }
            List<Row> rows = g.select("lo", "hi")
                    .limit(RANGE_CHUNK_CAP + 1)
                    .collectAsList();
            if (rows.isEmpty() || rows.size() > RANGE_CHUNK_CAP) {
                return null;
            }
            List<long[]> bounds = new ArrayList<>(rows.size());
            for (Row r : rows) {
                bounds.add(new long[]{((Number) r.get(0)).longValue(),
                        ((Number) r.get(1)).longValue()});
            }
            List<long[]> merged = coalesceRanges(bounds);
            if (nEst > 0) {
                long covered = 0;
                for (long[] r : merged) {
                    covered += r[1] - r[0] + 1;
                }
                if (covered >= MAX_RANGE_COVERAGE * nEst) {
                    return null;   // spans ~the corpus: nothing to skip
                }
            }
            return merged;
        } catch (Exception e) {
            return null;           // pruning is advisory: fail open
        }
    }

    /** Merge overlapping/adjacent ranges; past MAX_RANGES, keep the
     *  MAX_RANGES-1 LARGEST gaps as splits and merge across the rest
     *  (minimizes the extra id-space the bounded set admits). Same
     *  algorithm as operators/indexes.py coalesce_id_ranges. */
    static List<long[]> coalesceRanges(List<long[]> bounds) {
        bounds.sort((a, b) -> Long.compare(a[0], b[0]));
        List<long[]> merged = new ArrayList<>();
        for (long[] r : bounds) {
            if (!merged.isEmpty()
                    && r[0] <= merged.get(merged.size() - 1)[1] + 1) {
                long[] last = merged.get(merged.size() - 1);
                last[1] = Math.max(last[1], r[1]);
            } else {
                merged.add(new long[]{r[0], r[1]});
            }
        }
        if (merged.size() > MAX_RANGES) {
            long[][] gaps = new long[merged.size() - 1][2];
            for (int i = 0; i < merged.size() - 1; i++) {
                gaps[i][0] = merged.get(i + 1)[0] - merged.get(i)[1];
                gaps[i][1] = i;
            }
            // largest gap first, ties to the later gap: Python's
            // sorted((gap, i), reverse=True), so both pick one split set
            Arrays.sort(gaps, (a, b) -> a[0] != b[0]
                    ? Long.compare(b[0], a[0]) : Long.compare(b[1], a[1]));
            java.util.TreeSet<Long> splits = new java.util.TreeSet<>();
            for (int i = 0; i < MAX_RANGES - 1 && i < gaps.length; i++) {
                splits.add(gaps[i][1]);
            }
            List<long[]> out = new ArrayList<>();
            int start = 0;
            for (long s : splits) {
                out.add(new long[]{merged.get(start)[0],
                        merged.get((int) s)[1]});
                start = (int) s + 1;
            }
            out.add(new long[]{merged.get(start)[0],
                    merged.get(merged.size() - 1)[1]});
            merged = out;
        }
        return merged;
    }

    /** `id BETWEEN lo AND hi OR ...` as catalyst nodes typed to the id
     *  attribute (literal, so parquet pushdown sees it at planning). */
    private static Expression rangesPred(Attribute idAttr,
                                         List<long[]> ranges) {
        org.apache.spark.sql.types.DataType dt = idAttr.dataType();
        Expression out = null;
        for (long[] r : ranges) {
            Object lo;
            Object hi;
            if (dt instanceof org.apache.spark.sql.types.LongType) {
                lo = r[0];
                hi = r[1];
            } else if (dt instanceof org.apache.spark.sql.types.IntegerType) {
                lo = (int) r[0];
                hi = (int) r[1];
            } else {
                return null;       // other integral widths: skip pruning
            }
            Expression one = new And(
                    new GreaterThanOrEqual(idAttr,
                            Literal$.MODULE$.create(lo, dt)),
                    new LessThanOrEqual(idAttr,
                            Literal$.MODULE$.create(hi, dt)));
            out = out == null ? one
                    : new org.apache.spark.sql.catalyst.expressions.Or(
                            out, one);
        }
        return out;
    }

    private long confLong(String key, long def) {
        try {
            return Long.parseLong(
                    session.conf().get(key, Long.toString(def)).trim());
        } catch (Exception e) {
            return def;
        }
    }

    // ----------------------------------------------------- probe builders

    /** Per-(session, manifest, table) scan cache: every probe otherwise
     *  pays a fresh file listing + parquet footer read PER PLANNED
     *  QUERY (~120-145 ms on the Python side, same cost here). A write
     *  lands a new manifest, so the key changes exactly when the index
     *  content does. Keys use the session UUID (identity hashes are
     *  reusable across GC'd sessions) and the map is a bounded LRU, so
     *  dead sessions' entries age out instead of pinning Datasets for
     *  the JVM lifetime. */
    private static final int SCAN_CACHE_CAP = 256;
    private static final Map<String, Dataset<Row>> SCAN_CACHE =
            java.util.Collections.synchronizedMap(
                    new java.util.LinkedHashMap<String, Dataset<Row>>(
                            64, 0.75f, true) {
                        @Override
                        protected boolean removeEldestEntry(
                                Map.Entry<String, Dataset<Row>> eldest) {
                            return size() > SCAN_CACHE_CAP;
                        }
                    });

    /** Test hooks: the cache must stay bounded no matter how many
     *  sessions/side-tables a long-lived JVM serves. */
    public static int scanCacheSize() {
        return SCAN_CACHE.size();
    }

    public static int scanCacheCap() {
        return SCAN_CACHE_CAP;
    }

    /** Table `table` of the index: exactly the files its newest
     *  manifest lists, read with the recorded schema and partition
     *  columns parsed below the table directory. Throws when the index
     *  has no manifest (the caller's route then stays stock). */
    private Dataset<Row> readCached(String indexPath, String table) {
        String key = manifestKey(indexPath);
        com.fasterxml.jackson.databind.JsonNode spec = parsed(key);
        if (spec == null) {
            throw new IllegalStateException("no manifest under " + indexPath);
        }
        key = ((org.apache.spark.sql.classic.SparkSession) session)
                .sessionUUID() + "|" + key + "|" + table;
        Dataset<Row> hit = SCAN_CACHE.get(key);
        if (hit != null) {
            return hit;
        }
        spec = spec.path("tables").path(table);
        String base = indexPath + "/" + table;
        String[] files = new String[spec.path("files").size()];
        for (int i = 0; i < files.length; i++) {
            files[i] = base + "/" + spec.path("files").get(i).asText();
        }
        org.apache.spark.sql.DataFrameReader reader = session.read()
                .schema((org.apache.spark.sql.types.StructType)
                        org.apache.spark.sql.types.DataType.fromJson(
                                spec.path("schema").asText()));
        // no files, no table directory for basePath to name
        Dataset<Row> d = (files.length == 0 ? reader
                : reader.option("basePath", base)).parquet(files);
        SCAN_CACHE.put(key, d);
        return d;
    }

    /** filter(term = kw) over a term-bucketed table of the inverted
     *  index (postings, granules), pruned to the keyword's bucket with
     *  the same hash the build used (indexes._term_hit). */
    private Dataset<Row> termRows(IndexRegistry.Entry en, String table,
                                  String kw) {
        Column b = functions.abs(functions.hash(functions.lit(kw)))
                .mod(functions.lit(64));
        return readCached(en.indexPath, table)
                .filter(functions.col("bucket").equalTo(b))
                .filter(functions.col("term").equalTo(functions.lit(kw)));
    }

    private Dataset<Row> invertedProbe(IndexRegistry.Entry en, String kw) {
        // no distinct: postings are unique per (term, row_id) by
        // construction, and the LeftSemi needs no dedup — the shuffle
        // costs more than the whole bucket-pruned scan
        return termRows(en, "postings", kw).select("row_id");
    }

    /** The term's build-time (lo, hi) granule rows: the range summary
     *  reads O(granules) of them, never the O(df) postings. */
    private Dataset<Row> invertedGranules(IndexRegistry.Entry en, String kw) {
        return termRows(en, "granules", kw).select("lo", "hi");
    }

    /** whole-string equality via the exact-text index: md5-hex digest
     *  lookup, pruned to the 2-char digest-prefix partition (the same
     *  digest-only semantics as the Python probe / the reference's
     *  index_search.cpp:172-199 hash lookup). */
    private Dataset<Row> exactProbe(IndexRegistry.Entry en, String value) {
        String hex = md5Hex(value);
        Dataset<Row> d = readCached(en.indexPath, "digests");
        if (Arrays.asList(d.columns()).contains("bucket")) {
            d = d.filter(functions.col("bucket")
                    .equalTo(hex.substring(0, 2)));
        }
        // no distinct: one digest row per corpus row
        return d.filter(functions.col("digest").equalTo(hex))
                .select("row_id");
    }

    private Dataset<Row> inProbe(IndexRegistry.Entry en, List<Object> values) {
        Dataset<Row> v = readCached(en.indexPath, "values");
        NumMeta meta = readNumMeta(en.indexPath);
        if (meta != null && Arrays.asList(v.columns()).contains("bucket")) {
            List<Object> buckets = new ArrayList<>();
            for (Object o : values) {
                Object b = bucketOf(((Number) o).doubleValue(), meta);
                if (!buckets.contains(b)) {
                    buckets.add(b);
                }
            }
            v = v.filter(functions.col("bucket").isin(buckets.toArray()));
        }
        // no distinct: one value row per corpus row
        return v.filter(functions.col("value").isin(values.toArray()))
                .select("row_id");
    }

    private Dataset<Row> rangeProbe(Range r) {
        Dataset<Row> v = readCached(r.entry.indexPath, "values");
        NumMeta meta = readNumMeta(r.entry.indexPath);
        boolean hasBucket = Arrays.asList(v.columns()).contains("bucket");
        if (meta != null && hasBucket) {
            if (r.lo != null) {
                v = v.filter(functions.col("bucket")
                        .geq(bucketOf(r.lo.doubleValue(), meta)));
            }
            if (r.hi != null) {
                v = v.filter(functions.col("bucket")
                        .leq(bucketOf(r.hi.doubleValue(), meta)));
            }
        }
        if (r.lo != null) {
            Column c = functions.col("value");
            v = v.filter(r.loStrict ? c.gt(functions.lit(r.lo))
                    : c.geq(functions.lit(r.lo)));
        }
        if (r.hi != null) {
            Column c = functions.col("value");
            v = v.filter(r.hiStrict ? c.lt(functions.lit(r.hi))
                    : c.leq(functions.lit(r.hi)));
        }
        return v.select("row_id");   // unique per corpus row already
    }

    private static int bucketOf(double v, NumMeta meta) {
        double width = meta.width == 0.0 ? 1.0 : meta.width;
        int b = (int) Math.floor((v - meta.vmin) / width);
        return Math.max(0, Math.min(63, b));
    }

    /** Numeric-index meta: bucket bounds (always) + the 64-bucket
     *  histogram the range/IN gate estimates from (round-8 builds). */
    private static final class NumMeta {
        double vmin;
        double width;
        long[] counts;      // null on pre-stats indexes
        long n;
    }

    private NumMeta readNumMeta(String indexPath) {
        try {
            com.fasterxml.jackson.databind.JsonNode m =
                    meta(indexPath);
            if (m == null || !m.has("vmin") || !m.has("width")) {
                return null;
            }
            NumMeta nm = new NumMeta();
            nm.vmin = m.get("vmin").asDouble();
            nm.width = m.get("width").asDouble();
            com.fasterxml.jackson.databind.JsonNode bc =
                    m.get("bucket_counts");
            if (bc != null && bc.isObject()) {
                nm.counts = new long[64];
                java.util.Iterator<String> it = bc.fieldNames();
                while (it.hasNext()) {
                    String k = it.next();
                    int b = Integer.parseInt(k);
                    if (b >= 0 && b < 64) {
                        nm.counts[b] = bc.get(k).asLong();
                    }
                }
                nm.n = m.path("n").asLong(0);
            }
            return nm;
        } catch (Exception ignored) {
            // no manifest: probe stays exact, just unpruned/ungated
            return null;
        }
    }

    /** Bucket-resolution selectivity upper bound; -1 = no stats. */
    private static double estRangeSel(NumMeta nm, Number lo, Number hi) {
        if (nm == null || nm.counts == null || nm.n <= 0) {
            return -1;
        }
        int blo = lo == null ? 0 : bucketOf(lo.doubleValue(), nm);
        int bhi = hi == null ? 63 : bucketOf(hi.doubleValue(), nm);
        long tot = 0;
        for (int b = blo; b <= bhi; b++) {
            tot += nm.counts[b];
        }
        return Math.min(1.0, (double) tot / nm.n);
    }

    private static double estInSel(NumMeta nm, List<Object> values) {
        if (nm == null || nm.counts == null || nm.n <= 0) {
            return -1;
        }
        boolean[] seen = new boolean[64];
        long tot = 0;
        for (Object o : values) {
            int b = bucketOf(((Number) o).doubleValue(), nm);
            if (!seen[b]) {
                seen[b] = true;
                tot += nm.counts[b];
            }
        }
        return Math.min(1.0, (double) tot / nm.n);
    }

    // ------------------------------------------- top-k ANN (Sort + Limit)

    public static final String ANN_ENABLED_KEY =
            "spark.sql.deeplake.routing.ann.enabled";
    public static final String ANN_NPROBE_KEY =
            "spark.sql.deeplake.routing.ann.nprobe";
    public static final String ANN_ACCURACY_KEY =
            "spark.sql.deeplake.routing.ann.accuracyFactor";
    /** LIMITs above this stay exact: a k at corpus scale turns "top-k
     *  among the probed cells" into "most of the table, minus the
     *  pruned cells" — not what anyone means by ANN. */
    public static final String ANN_MAXK_KEY =
            "spark.sql.deeplake.routing.ann.maxK";
    /** CORPUS-RELATIVE k ceiling (round 10), composed with the
     *  absolute one: the route declines when k exceeds this fraction
     *  of the index's persisted corpus size. IVF recall@k DECAYS with
     *  k on a fixed-fraction probe — rank-k true neighbors spread
     *  across more cells as k grows (measured at 128k vectors, af4:
     *  0.925@10, 0.858@100, 0.637@1000 — SCALING.md decay note) — so
     *  a flat 10000 ceiling is not recall-safe on small corpora. At
     *  the 0.001 default the boundary sits where recall still tracks
     *  the small-k presets (~0.86 at 128k), and past it the stock
     *  exact plan runs (recall 1.0 by definition); unknown corpus
     *  size (no meta n) falls back to the absolute ceiling only. */
    public static final String ANN_MAXK_FRAC_KEY =
            "spark.sql.deeplake.routing.ann.maxKFrac";
    static final double DEFAULT_ANN_MAXK_FRAC = 0.001;
    /** Filtered-search recall compensation (default on): when the
     *  routed top-k sits above WHERE filters, candidates = probed
     *  cells ∩ filter, so recall falls with filter selectivity. The
     *  reference never degrades here — it runs top_k with a roaring
     *  prefilter over the FULL index (index_holder.hpp:35-36); we
     *  widen eff-nprobe by 1/selectivity, estimated from the same
     *  stats the cost gate reads (routed semijoins bound it
     *  by maxSelectivity — they passed that gate to exist). */
    public static final String ANN_WIDEN_KEY =
            "spark.sql.deeplake.routing.ann.widenFiltered";
    /** Ceiling on the filtered-search widening: when honoring recall
     *  (1/s widening, never more than all cells) would probe more
     *  than maxWidenFactor x the base cell count, the route declines
     *  and the stock exact plan runs — an over-widened probe pays
     *  most of a full-index scan AND a rerank while the stock scan of
     *  the tiny filtered set is exact and cheaper. Mirrors
     *  SearchConfig.max_widen_factor on the Python side. */
    public static final String ANN_WIDEN_CAP_KEY =
            "spark.sql.deeplake.routing.ann.maxWidenFactor";

    /**
     * Route {@code ORDER BY <vector score> [DESC|ASC] LIMIT k} over a
     * registered dataset through its clustered (IVF) index: prune the
     * base relation to the {@code nprobe} nearest k-means cells via a
     * semijoin against the cluster-partitioned assignments table, and
     * KEEP the user's Sort+Limit on top as the exact reranker — the
     * reference serves {@code top_k_search_info} from its index holder
     * for every entry path (cpp/query_core/index_holder.hpp:30-36,
     * detection cpp/tql/tql.hpp:171).
     *
     * Matched score shapes (the documented Spark-SQL spellings —
     * plans/sqlrouting.py cosine_sql/dot_sql/l2_sq_sql, which is also
     * what functions/vector.py emits):
     * <ul>
     *  <li>dot: {@code aggregate(zip_with(col, array(...), (x,y)->x*y),
     *      0d, (a,x)->a+x)} — DESC</li>
     *  <li>cosine: dot divided by a ZipWith-free norm product — DESC</li>
     *  <li>L2 / L2²: {@code zip_with} of {@code (x-y)*(x-y)} summed, or
     *      plain difference summed as squares/abs in the merge lambda —
     *      ASC (sqrt and other monotone wrappers unwrapped)</li>
     * </ul>
     * Monotone wrappers (round/cast/sqrt, +/- constants, * / by
     * constants with sign-aware direction flip) are peeled off the
     * root; {@code 1 - cos ASC} therefore routes too. Soundness: the
     * score may reference exactly ONE attribute, matched by exprId
     * against the relation output (alias shadowing can't spoof it),
     * exactly one literal query vector, and the required direction must
     * agree with the family — otherwise untouched. Recall follows IVF
     * semantics (the same contract as the TQL route), gated by the
     * nprobe/accuracyFactor confs mirroring SearchConfig.
     */
    private LogicalPlan tryRouteTopK(GlobalLimit gl) {
        if (!gl.resolved()
                || !"true".equalsIgnoreCase(
                        session.conf().get(ANN_ENABLED_KEY, "true"))
                || !(gl.child() instanceof LocalLimit)) {
            return null;
        }
        Number k = numLit(gl.limitExpr());
        if (k == null || k.intValue() <= 0
                || k.intValue() > confInt(ANN_MAXK_KEY, 10000)) {
            return null;
        }
        // LocalLimit -> (attrs-only Projects from sort-reference
        // widening) -> Sort(global)
        LogicalPlan cur = ((LocalLimit) gl.child()).child();
        while (cur instanceof Project && attributesOnly((Project) cur)) {
            cur = ((Project) cur).child();
        }
        if (!(cur instanceof Sort) || !((Sort) cur).global()
                || ((Sort) cur).order().isEmpty()) {
            return null;
        }
        Sort sort = (Sort) cur;
        SortOrder first = sort.order().apply(0);
        // NULLS FIRST (the ASC default) puts null-score rows — null
        // vectors — at the HEAD of the exact result; the cluster
        // semijoin drops them (no assignment), a real row change, not
        // the documented IVF recall approximation. Route only when
        // nulls sort last (any DESC default, or `ASC NULLS LAST` —
        // the spelling plans/sqlrouting.l2_sq_sql documents).
        if (!org.apache.spark.sql.catalyst.expressions.NullsLast$.MODULE$
                .equals(first.nullOrdering())) {
            return null;
        }
        // Resolve an ORDER BY <alias> back to its defining expression,
        // walking through SubqueryAlias/View/Filter wrappers and
        // CHAINED Projects — the common nested-subquery spelling
        // (SELECT * FROM (SELECT id, <cos expr> AS score FROM t)
        // ORDER BY score LIMIT k) puts a SubqueryAlias between the
        // Sort and the aliasing Project and never routed before
        // (r15 review). A pass-through projection keeps the exprId,
        // so descending through it is sound; the walk stops at the
        // first non-wrapper node.
        Expression score = first.child();
        LogicalPlan sc = sort.child();
        while (score instanceof AttributeReference) {
            if (sc instanceof SubqueryAlias) {
                sc = ((SubqueryAlias) sc).child();
            } else if (sc instanceof
                    org.apache.spark.sql.catalyst.plans.logical.View) {
                sc = ((org.apache.spark.sql.catalyst.plans.logical.View) sc)
                        .child();
            } else if (sc instanceof Filter) {
                sc = ((Filter) sc).child();
            } else if (sc instanceof Project) {
                Expression aliased = resolveAlias((Project) sc,
                        (AttributeReference) score);
                if (aliased != null) {
                    score = aliased;   // may alias another attr below
                }
                sc = ((Project) sc).child();
            } else {
                break;
            }
        }
        if (score instanceof AttributeReference) {
            return null;   // a stored column, not a computed score
        }
        // descend to the scan BEFORE matching the score (the score match
        // may execute a scalar subquery — do all cheap bail-outs first);
        // LeftSemi joins appear when WHERE conjuncts were routed earlier
        // in this same bottom-up pass — remember their probe sides so a
        // fixed-point re-run doesn't stack a second identical ANN semijoin
        LogicalPlan base = sort.child();
        List<LogicalPlan> semiProbes = new ArrayList<>();
        List<Expression> filterConds = new ArrayList<>();
        while (true) {
            if (base instanceof SubqueryAlias) {
                base = ((SubqueryAlias) base).child();
            } else if (base instanceof org.apache.spark.sql.catalyst.plans.logical.View) {
                base = ((org.apache.spark.sql.catalyst.plans.logical.View) base).child();
            } else if (base instanceof Project) {
                base = ((Project) base).child();
            } else if (base instanceof Filter) {
                filterConds.add(((Filter) base).condition());
                base = ((Filter) base).child();
            } else if (base instanceof Join
                    && LeftSemi$.MODULE$.equals(((Join) base).joinType())) {
                semiProbes.add(((Join) base).right());
                base = ((Join) base).left();
            } else {
                break;
            }
        }
        if (!(base instanceof LogicalRelation)
                || !(((LogicalRelation) base).relation()
                        instanceof HadoopFsRelation)) {
            return null;
        }
        LogicalRelation relation = (LogicalRelation) base;
        List<String> paths = new ArrayList<>();
        scala.collection.Iterator<org.apache.hadoop.fs.Path> pit =
                ((HadoopFsRelation) relation.relation()).location()
                        .rootPaths().iterator();
        while (pit.hasNext()) {
            paths.add(pit.next().toString());
        }
        Map<String, IndexRegistry.Entry> byCol =
                IndexRegistry.lookupByPaths(paths);
        if (byCol == null) {
            return null;
        }
        // idempotence pre-guard: if any existing semijoin already probes
        // a vector index of this dataset, this top-k was routed on an
        // earlier fixed-point pass — bail before any subquery execution
        boolean anyVec = false;
        for (IndexRegistry.Entry cand : byCol.values()) {
            if (!"clustered".equals(cand.kind) && !"pq".equals(cand.kind)) {
                continue;
            }
            anyVec = true;
            for (LogicalPlan pr : semiProbes) {
                if (scansUnder(pr, cand.indexPath)) {
                    return null;
                }
            }
        }
        if (!anyVec) {
            // no clustered/pq registration for this dataset: the route
            // can never apply — bail BEFORE matchScore, which may
            // execute the query-vector scalar subquery as a driver-side
            // job (trap-8 discipline: that job is bounded but not
            // memoized, and the analyzer fixed point would re-run it
            // per iteration for the common no-vector-index case)
            return null;
        }
        ScoreMatch m = matchScore(score);
        if (m == null) {
            return null;
        }
        boolean wantDesc = m.similarity != m.flip;
        boolean isDesc = Descending$.MODULE$.equals(first.direction());
        if (wantDesc != isDesc) {
            return null;
        }
        // resolve the score's attribute against the relation output by
        // exprId — a Project aliasing something AS <vec col> cannot spoof
        Attribute vecAttr = null;
        scala.collection.Iterator<AttributeReference> oit =
                relation.output().iterator();
        while (oit.hasNext()) {
            Attribute a = oit.next();
            if (a.exprId().equals(m.attr.exprId())) {
                vecAttr = a;
            }
        }
        if (vecAttr == null) {
            return null;
        }
        IndexRegistry.Entry en = byCol.get(vecAttr.name());
        if (en == null
                || !("clustered".equals(en.kind) || "pq".equals(en.kind))) {
            return null;
        }
        // corpus-relative k ceiling (see ANN_MAXK_FRAC_KEY): recall@k
        // decays with k on a fixed-fraction probe, so "just under a
        // flat ceiling" is recall-unsafe on small corpora — decline
        // and let the stock exact plan run
        long nCorpus = annN(en);
        if (nCorpus > 0) {
            double frac = confDouble(ANN_MAXK_FRAC_KEY,
                    DEFAULT_ANN_MAXK_FRAC);
            if (frac > 0
                    && k.longValue() > Math.max(1L, (long) (frac * nCorpus))) {
                return null;
            }
        }
        @SuppressWarnings("unchecked")
        scala.collection.immutable.Seq<Attribute> relOut =
                (scala.collection.immutable.Seq<Attribute>)
                        (scala.collection.immutable.Seq<?>) relation.output();
        Attribute idAttr = findAttr(relOut, en.idCol);
        if (idAttr == null) {
            return null;
        }
        // filtered-search widening: estimate how much of the corpus
        // the filters below the Sort keep, and probe 1/s more cells
        double filterSel = -1;
        if ("true".equalsIgnoreCase(
                session.conf().get(ANN_WIDEN_KEY, "true"))) {
            if (!semiProbes.isEmpty()) {
                // routed semijoins passed the cost gate, so each keeps
                // at most maxSelectivity of the corpus
                filterSel = confDouble(MAX_SELECTIVITY_KEY,
                        DEFAULT_MAX_SELECTIVITY);
            }
            List<Expression> cs = new ArrayList<>();
            for (Expression cond : filterConds) {
                splitAnd(cond, cs);
            }
            for (Expression c : cs) {
                // estimateConjunctSel matches index entries by column
                // NAME, but the descent above walks through COMPUTED
                // Projects — a conjunct on an alias shadowing a
                // registered column (SELECT length(text) AS n_chars)
                // would read the WRONG histogram and mis-size the
                // widening (r15 review). Only conjuncts whose every
                // attribute IS a scan attribute (exprId match — the
                // same guard the score match uses) contribute.
                if (!attrsFromRelation(c, relation)) {
                    continue;
                }
                double s = estimateConjunctSel(c, byCol);
                if (s >= 0) {
                    filterSel = filterSel < 0 ? s
                            : Math.min(filterSel, s);
                }
            }
        }
        Probe pr = ivfProbe(en, m.vec, filterSel);
        if (pr == null) {
            return null;
        }
        Dataset<Row> probe = pr.ds;
        LogicalPlan probePlan = probe.queryExecution().optimizedPlan();
        Attribute probeAttr = findAttr(probePlan.output(), "row_id");
        if (probeAttr == null) {
            return null;
        }
        // probe → corpus row-group pruning, same as the filter routes:
        // the cluster-pruned candidate ids summarize into literal id
        // ranges on the corpus scan, so parquet min/max skips the row
        // groups the rerank can never keep (the reference applies its
        // bitmap→chunk reads to ANN probes too, index_holder.hpp:37-40).
        // Coverage-gated on the persisted corpus size — cells scattered
        // across the id space (the usual case) decline; cells that
        // correlate with ingest order (content drift) prune real I/O.
        LogicalPlan corpusSide = relation;
        if ("true".equalsIgnoreCase(
                session.conf().get(RANGE_PRUNE_KEY, "true"))) {
            long nEst = annN(en);
            if (nEst > 0 && idAttr.dataType()
                    instanceof org.apache.spark.sql.types.IntegralType) {
                List<long[]> rs = cachedRanges(new Routed(probe, en,
                        "ann|" + pr.cells, nEst, null));
                if (rs != null && !rs.isEmpty()) {
                    Expression p = rangesPred(idAttr, rs);
                    if (p != null) {
                        corpusSide = new Filter(p, relation);
                    }
                }
            }
        }
        LogicalPlan joined = new Join(corpusSide, probePlan, LeftSemi$.MODULE$,
                Option.apply(new EqualTo(idAttr, probeAttr)),
                JoinHint.NONE());
        LogicalPlan rebuilt = replaceNode(gl, relation, joined);
        return rebuilt == gl ? null : rebuilt;
    }

    /** Corpus size persisted in the vector index's manifest meta;
     *  -1 when absent (older index — ANN range pruning then stays off,
     *  a safe rollout: no coverage gate means no sound push). */
    private long annN(IndexRegistry.Entry en) {
        com.fasterxml.jackson.databind.JsonNode r = meta(en.indexPath);
        return r == null ? -1 : r.path("n").asLong(-1);
    }

    /** Cluster-pruned candidate row ids: rank the (metadata-small)
     *  centroid table driver-side, read only the eff-nprobe nearest
     *  cluster partitions of the cell-partitioned id table, project
     *  the id. Serves `clustered` (IVF assignments) and `pq` with a
     *  coarse quantizer (IVFADC codes — same cluster partitioning;
     *  the user's kept Sort reranks with the EXACT score, so the ADC
     *  compression never touches results). Flat PQ (no centroids)
     *  yields no pruning and stays stock. */
    private static void splitAnd(Expression e, List<Expression> out) {
        if (e instanceof And) {
            splitAnd(((And) e).left(), out);
            splitAnd(((And) e).right(), out);
        } else {
            out.add(e);
        }
    }

    /** Estimated selectivity of one residual-filter conjunct from the
     *  same stats the cost gate reads; -1 = unknown shape or
     *  no stats (no widening from this conjunct). */
    private double estimateConjunctSel(Expression c,
                                       Map<String, IndexRegistry.Entry> byCol) {
        String[] tok = matchTokenContains(c);
        if (tok != null) {
            IndexRegistry.Entry en = byCol.get(tok[0]);
            if (en != null && "inverted".equals(en.kind)) {
                return invertedSelectivity(en, tok[1]);
            }
        }
        Bound[] bt = matchBetween(c);
        if (bt != null) {
            IndexRegistry.Entry en = byCol.get(bt[0].column);
            if (en != null && "numeric".equals(en.kind)) {
                return estRangeSel(readNumMeta(en.indexPath),
                        bt[0].value, bt[1].value);
            }
        }
        Bound b = matchComparison(c);
        if (b != null) {
            IndexRegistry.Entry en = byCol.get(b.column);
            if (en != null && "numeric".equals(en.kind)) {
                NumMeta nm = readNumMeta(en.indexPath);
                if (b.eq) {
                    return estRangeSel(nm, b.value, b.value);
                }
                return b.isLow ? estRangeSel(nm, b.value, null)
                        : estRangeSel(nm, null, b.value);
            }
        }
        InMatch in = matchIn(c);
        if (in != null) {
            IndexRegistry.Entry en = byCol.get(in.column);
            if (en != null && "numeric".equals(en.kind)) {
                return estInSel(readNumMeta(en.indexPath), in.values);
            }
        }
        return -1;
    }

    private Probe ivfProbe(IndexRegistry.Entry en, double[] q,
                                  double filterSel) {
        try {
            boolean pq = "pq".equals(en.kind);
            // the cached manifest, not a raw read: the centroid table
            // is multi-MB JSON and this runs per PLANNED query
            com.fasterxml.jackson.databind.JsonNode root = meta(en.indexPath);
            if (root == null) {
                return null;            // no manifest: stay stock
            }
            com.fasterxml.jackson.databind.JsonNode cents =
                    root.get("centroids");
            if (cents == null || cents.isNull()) {
                return null;            // flat PQ: nothing to prune on
            }
            String assignIdCol = root.get("id_col").asText();
            String table = pq ? "codes" : "assignments";
            int n = cents.size();
            if (n == 0) {
                return null;
            }
            Integer[] order = new Integer[n];
            int[] cid = new int[n];
            double[] d2 = new double[n];
            for (int i = 0; i < n; i++) {
                com.fasterxml.jackson.databind.JsonNode c = cents.get(i);
                cid[i] = c.get(0).asInt();
                com.fasterxml.jackson.databind.JsonNode vec = c.get(1);
                if (vec.size() != q.length) {
                    return null;        // dimension mismatch: not our vector
                }
                double s = 0.0;
                for (int j = 0; j < q.length; j++) {
                    double diff = vec.get(j).asDouble() - q[j];
                    s += diff * diff;
                }
                d2[i] = s;
                order[i] = i;
            }
            int nprobe = confInt(ANN_NPROBE_KEY, 4);
            int af = confInt(ANN_ACCURACY_KEY, 10);
            int eff = Math.min(n, Math.max(nprobe,
                    (int) Math.ceil(n * af / 20.0)));
            if (eff <= 0) {
                // nprobe<=0 with accuracyFactor<=0: an empty cell set
                // would fold isin() to FALSE — an always-empty probe
                // that silently returns 0 rows for the top-k AND, as
                // an empty LocalRelation, escapes the scansUnder
                // idempotence guard so every Resolution iteration
                // stacks another semijoin (r15 review). Decline; the
                // documented off switch is ann.enabled.
                return null;
            }
            if (filterSel > 0) {
                // filtered search keeps ~filterSel of each cell's
                // candidates: probe 1/s more cells. The honest need is
                // bounded by all cells (a full probe is exact — the
                // reference's full-index prefilter equivalent); when
                // even that exceeds maxWidenFactor x the base probe
                // cost, decline the route — the stock exact plan over
                // the (tiny) filtered set is both exact and cheaper
                // than a near-full-index scan plus rerank. Mirrors
                // SearchConfig.max_widen_factor / _widening_capped.
                int need = Math.min(n, (int) Math.ceil(
                        eff / Math.max(filterSel, 1.0 / n)));
                int cap = Math.max(confInt(ANN_WIDEN_CAP_KEY, 8), 1);
                if (need > eff * cap) {
                    return null;
                }
                eff = need;
            }
            Arrays.sort(order, (x, y) -> Double.compare(d2[x], d2[y]));
            Object[] cells = new Object[eff];
            for (int i = 0; i < eff; i++) {
                cells[i] = cid[order[i]];
            }
            Arrays.sort(cells, (x, y) ->
                    Integer.compare((Integer) x, (Integer) y));
            Probe out = new Probe();
            out.ds = readCached(en.indexPath, table)
                    .filter(functions.col("cluster").isin(cells))
                    .select(functions.col(assignIdCol).alias("row_id"));
            // exact content key for the range memo: the sorted cell set
            // fully determines the probe's id set (with the index
            // manifest cachedRanges adds) — a 32-bit plan-hash key
            // could collide across query vectors and serve one probe's
            // ranges to another, excluding true candidates (wrong rows)
            out.cells = Arrays.toString(cells);
            return out;
        } catch (Exception e) {
            return null;                // no manifest: stay stock
        }
    }

    /** A cluster-pruned candidate probe + the exact cell set it reads
     *  (the content key for the range memo). */
    private static final class Probe {
        Dataset<Row> ds;
        String cells;
    }

    private static final class ScoreMatch {
        boolean similarity;     // true: dot/cosine (DESC); false: L2 (ASC)
        boolean flip;           // odd count of order-flipping wrappers
        AttributeReference attr;
        double[] vec;
    }

    private ScoreMatch matchScore(Expression score) {
        List<AttributeReference> attrs = new ArrayList<>();
        List<double[]> vecs = new ArrayList<>();
        collectAttrsAndVecs(score, attrs, vecs);
        if (vecs.isEmpty()) {
            // no literal vector: accept ONE uncorrelated scalar subquery
            // of numeric-array type as the query vector (the reference's
            // "FROM other_table" query-vector pattern) — executed once at
            // plan time; it is exactly the 1-row fetch the probe needs
            List<org.apache.spark.sql.catalyst.expressions.ScalarSubquery>
                    subs = new ArrayList<>();
            collectScalarSubqueries(score, subs);
            if (subs.size() == 1) {
                double[] v = subqueryVec(subs.get(0));
                if (v != null) {
                    vecs.add(v);
                }
            }
        }
        if (attrs.isEmpty() || vecs.isEmpty()) {
            return null;
        }
        AttributeReference attr = attrs.get(0);
        for (AttributeReference a : attrs) {
            if (!a.exprId().equals(attr.exprId())) {
                return null;    // more than one column: not a vector score
            }
        }
        double[] vec = vecs.get(0);
        for (double[] v : vecs) {
            if (!Arrays.equals(v, vec)) {
                return null;    // ambiguous query vector
            }
        }
        List<ZipWith> zips = new ArrayList<>();
        collectZipWith(score, zips);
        if (zips.size() != 1) {
            return null;
        }
        ZipWith zw = zips.get(0);
        // one zip_with input carries the column, the other the literal
        boolean leftHasAttr = containsAttrRef(zw.left());
        if (leftHasAttr == containsAttrRef(zw.right())) {
            return null;
        }
        Boolean similarity = classifyFamily(zw, enclosingAggregate(score, zw));
        if (similarity == null) {
            return null;
        }
        // peel monotone wrappers off the root, tracking direction flips
        boolean flip = false;
        Expression cur = score;
        while (true) {
            if (cur instanceof org.apache.spark.sql.catalyst.expressions.Round) {
                cur = ((org.apache.spark.sql.catalyst.expressions.Round) cur).child();
            } else if (cur instanceof Cast) {
                cur = ((Cast) cur).child();
            } else if (cur instanceof Sqrt) {
                cur = ((Sqrt) cur).child();
            } else if (cur instanceof Subtract) {
                Subtract s = (Subtract) cur;
                if (numLit(s.left()) != null) {
                    flip = !flip;
                    cur = s.right();
                } else if (numLit(s.right()) != null) {
                    cur = s.left();
                } else {
                    break;
                }
            } else if (cur instanceof Add) {
                Add a = (Add) cur;
                if (numLit(a.left()) != null) {
                    cur = a.right();
                } else if (numLit(a.right()) != null) {
                    cur = a.left();
                } else {
                    break;
                }
            } else if (cur instanceof Multiply) {
                Multiply mu = (Multiply) cur;
                Number c = numLit(mu.left());
                if (c != null) {
                    if (c.doubleValue() == 0.0) {
                        return null;
                    }
                    flip ^= c.doubleValue() < 0;
                    cur = mu.right();
                } else if ((c = numLit(mu.right())) != null) {
                    if (c.doubleValue() == 0.0) {
                        return null;
                    }
                    flip ^= c.doubleValue() < 0;
                    cur = mu.left();
                } else {
                    break;
                }
            } else if (cur instanceof Divide
                    && numLit(((Divide) cur).right()) != null) {
                Number c = numLit(((Divide) cur).right());
                if (c.doubleValue() == 0.0) {
                    return null;
                }
                flip ^= c.doubleValue() < 0;
                cur = ((Divide) cur).left();
            } else {
                break;
            }
        }
        // the unwrapped core must be the aggregate itself (dot / L2) or
        // cosine's dot ÷ ZipWith-free norm product; anything else could
        // hide a non-monotone transform of the score
        boolean coreOk;
        if (cur instanceof ArrayAggregate) {
            coreOk = containsZipWith(cur);
        } else if (cur instanceof Divide && similarity) {
            coreOk = containsZipWith(((Divide) cur).left())
                    && !containsZipWith(((Divide) cur).right());
        } else {
            coreOk = false;
        }
        if (!coreOk) {
            return null;
        }
        ScoreMatch m = new ScoreMatch();
        m.similarity = similarity;
        m.flip = flip;
        m.attr = attr;
        m.vec = vec;
        return m;
    }

    /** The ArrayAggregate that folds this ZipWith's output (the zip may
     *  sit under a cast transform); null when none encloses it. */
    private static ArrayAggregate enclosingAggregate(Expression e, ZipWith zw) {
        if (e instanceof ArrayAggregate && containsNode(e, zw)) {
            return (ArrayAggregate) e;
        }
        scala.collection.Iterator<Expression> it =
                castChildren(e).iterator();
        while (it.hasNext()) {
            ArrayAggregate r = enclosingAggregate(it.next(), zw);
            if (r != null) {
                return r;
            }
        }
        return null;
    }

    /** similarity=TRUE for element products summed (dot/cosine),
     *  FALSE for squared/absolute differences summed (L2²/L1);
     *  null = unrecognized, never route. */
    private static Boolean classifyFamily(ZipWith zw, ArrayAggregate agg) {
        if (agg == null || !(zw.function() instanceof LambdaFunction)
                || !(agg.merge() instanceof LambdaFunction)) {
            return null;
        }
        LambdaFunction zf = (LambdaFunction) zw.function();
        LambdaFunction mf = (LambdaFunction) agg.merge();
        if (zf.arguments().size() != 2 || mf.arguments().size() != 2) {
            return null;
        }
        // finish must be the identity (no hidden transform of the sum)
        if (agg.finish() instanceof LambdaFunction) {
            Expression fin = stripCasts(
                    ((LambdaFunction) agg.finish()).function());
            if (!(fin instanceof NamedLambdaVariable)) {
                return null;
            }
        }
        Expression zbody = stripCasts(zf.function());
        NamedExpression za = zf.arguments().apply(0);
        NamedExpression zb = zf.arguments().apply(1);
        Expression mbody = stripCasts(mf.function());
        NamedExpression acc = mf.arguments().apply(0);
        NamedExpression el = mf.arguments().apply(1);
        if (zbody instanceof Multiply) {
            Multiply mu = (Multiply) zbody;
            Expression l = stripCasts(mu.left());
            Expression r = stripCasts(mu.right());
            if (isVar(l, za) && isVar(r, zb)
                    || isVar(l, zb) && isVar(r, za)) {
                // (x, y) -> x * y : dot — merge must be a plain sum
                return isPlainSum(mbody, acc, el) ? Boolean.TRUE : null;
            }
            if (l instanceof Subtract && r instanceof Subtract
                    && sameDiff((Subtract) l, (Subtract) r, za, zb)) {
                // (x, y) -> (x - y) * (x - y) : squared distance
                return isPlainSum(mbody, acc, el) ? Boolean.FALSE : null;
            }
            return null;
        }
        if (zbody instanceof Subtract
                && sameDiff((Subtract) zbody, (Subtract) zbody, za, zb)) {
            // (x, y) -> x - y : the merge must square or abs the element
            return isSquaredOrAbsSum(mbody, acc, el) ? Boolean.FALSE : null;
        }
        return null;
    }

    private static boolean sameDiff(Subtract a, Subtract b,
                                    NamedExpression x, NamedExpression y) {
        Expression al = stripCasts(a.left());
        Expression ar = stripCasts(a.right());
        Expression bl = stripCasts(b.left());
        Expression br = stripCasts(b.right());
        boolean aOk = isVar(al, x) && isVar(ar, y)
                || isVar(al, y) && isVar(ar, x);
        boolean same = (isVar(al, x) && isVar(bl, x)
                || isVar(al, y) && isVar(bl, y));
        return aOk && same && (isVar(ar, x) && isVar(br, x)
                || isVar(ar, y) && isVar(br, y));
    }

    /** (acc, x) -> acc + x, either orientation. */
    private static boolean isPlainSum(Expression body, NamedExpression acc,
                                      NamedExpression el) {
        if (!(body instanceof Add)) {
            return false;
        }
        Expression l = stripCasts(((Add) body).left());
        Expression r = stripCasts(((Add) body).right());
        return isVar(l, acc) && isVar(r, el)
                || isVar(l, el) && isVar(r, acc);
    }

    /** (acc, x) -> acc + x*x or acc + abs(x), either orientation. */
    private static boolean isSquaredOrAbsSum(Expression body,
                                             NamedExpression acc,
                                             NamedExpression el) {
        if (!(body instanceof Add)) {
            return false;
        }
        Expression l = stripCasts(((Add) body).left());
        Expression r = stripCasts(((Add) body).right());
        Expression other;
        if (isVar(l, acc)) {
            other = r;
        } else if (isVar(r, acc)) {
            other = l;
        } else {
            return false;
        }
        if (other instanceof Multiply) {
            return isVar(stripCasts(((Multiply) other).left()), el)
                    && isVar(stripCasts(((Multiply) other).right()), el);
        }
        if (other instanceof org.apache.spark.sql.catalyst.expressions.Abs) {
            return isVar(stripCasts(
                    ((org.apache.spark.sql.catalyst.expressions.Abs) other)
                            .child()), el);
        }
        return false;
    }

    private static boolean isVar(Expression e, NamedExpression arg) {
        return e instanceof NamedLambdaVariable
                && ((NamedLambdaVariable) e).exprId().equals(arg.exprId());
    }

    private static Expression stripCasts(Expression e) {
        while (e instanceof Cast) {
            e = ((Cast) e).child();
        }
        return e;
    }

    /** Attributes and foldable numeric-array literals in one walk; a
     *  literal vector is a leaf (no descent into its elements). */
    private static void collectAttrsAndVecs(Expression e,
                                            List<AttributeReference> attrs,
                                            List<double[]> vecs) {
        if (e instanceof AttributeReference) {
            attrs.add((AttributeReference) e);
            return;
        }
        if (e.foldable() && e.dataType() instanceof ArrayType
                && ((ArrayType) e.dataType()).elementType()
                        instanceof NumericType) {
            double[] v = evalVec(e);
            if (v != null && v.length > 0) {
                vecs.add(v);
                return;
            }
        }
        scala.collection.Iterator<Expression> it = castChildren(e).iterator();
        while (it.hasNext()) {
            collectAttrsAndVecs(it.next(), attrs, vecs);
        }
    }

    private static double[] evalVec(Expression e) {
        try {
            Object v = e.eval(null);
            if (!(v instanceof org.apache.spark.sql.catalyst.util.ArrayData)) {
                return null;
            }
            org.apache.spark.sql.catalyst.util.ArrayData ad =
                    (org.apache.spark.sql.catalyst.util.ArrayData) v;
            Object[] els = ad.toObjectArray(
                    ((ArrayType) e.dataType()).elementType());
            double[] out = new double[els.length];
            for (int i = 0; i < els.length; i++) {
                if (els[i] == null) {
                    return null;
                }
                out[i] = els[i] instanceof Decimal
                        ? ((Decimal) els[i]).toDouble()
                        : ((Number) els[i]).doubleValue();
            }
            return out;
        } catch (Exception ex) {
            return null;
        }
    }

    private static void collectScalarSubqueries(
            Expression e,
            List<org.apache.spark.sql.catalyst.expressions.ScalarSubquery> out) {
        if (e instanceof org.apache.spark.sql.catalyst.expressions.ScalarSubquery) {
            out.add((org.apache.spark.sql.catalyst.expressions.ScalarSubquery) e);
            return;
        }
        scala.collection.Iterator<Expression> it = castChildren(e).iterator();
        while (it.hasNext()) {
            collectScalarSubqueries(it.next(), out);
        }
    }

    /** Evaluate an uncorrelated 1-row numeric-array scalar subquery at
     *  plan time. Guarded: correlated, non-array, or multi-row results
     *  return null and the plan stays stock. */
    private double[] subqueryVec(
            org.apache.spark.sql.catalyst.expressions.ScalarSubquery sq) {
        try {
            if (!sq.plan().resolved() || !sq.outerAttrs().isEmpty()
                    || !(sq.dataType() instanceof ArrayType)
                    || !(((ArrayType) sq.dataType()).elementType()
                            instanceof NumericType)) {
                return null;
            }
            List<Row> rows = org.apache.spark.sql.classic.Dataset$.MODULE$
                    .ofRows((org.apache.spark.sql.classic.SparkSession) session,
                            sq.plan())
                    .limit(2).collectAsList();
            if (rows.size() != 1) {
                return null;
            }
            Object v = rows.get(0).get(0);
            List<Object> els = new ArrayList<>();
            if (v instanceof scala.collection.Seq) {
                scala.collection.Iterator<?> it =
                        ((scala.collection.Seq<?>) v).iterator();
                while (it.hasNext()) {
                    els.add(it.next());
                }
            } else if (v instanceof java.util.List) {
                els.addAll((java.util.List<?>) v);
            } else {
                return null;
            }
            if (els.isEmpty()) {
                return null;
            }
            double[] out = new double[els.size()];
            for (int i = 0; i < els.size(); i++) {
                Object o = els.get(i);
                if (o instanceof java.math.BigDecimal) {
                    out[i] = ((java.math.BigDecimal) o).doubleValue();
                } else if (o instanceof Number) {
                    out[i] = ((Number) o).doubleValue();
                } else {
                    return null;
                }
            }
            return out;
        } catch (Throwable t) {
            return null;                // stay stock on any failure
        }
    }

    private static void collectZipWith(Expression e, List<ZipWith> out) {
        if (e instanceof ZipWith) {
            out.add((ZipWith) e);
        }
        scala.collection.Iterator<Expression> it = castChildren(e).iterator();
        while (it.hasNext()) {
            collectZipWith(it.next(), out);
        }
    }

    private static boolean containsZipWith(Expression e) {
        List<ZipWith> out = new ArrayList<>();
        collectZipWith(e, out);
        return !out.isEmpty();
    }

    private static boolean containsAttrRef(Expression e) {
        if (e instanceof AttributeReference) {
            return true;
        }
        scala.collection.Iterator<Expression> it = castChildren(e).iterator();
        while (it.hasNext()) {
            if (containsAttrRef(it.next())) {
                return true;
            }
        }
        return false;
    }

    private static boolean containsNode(Expression e, Expression target) {
        if (e == target) {
            return true;
        }
        scala.collection.Iterator<Expression> it = castChildren(e).iterator();
        while (it.hasNext()) {
            if (containsNode(it.next(), target)) {
                return true;
            }
        }
        return false;
    }

    @SuppressWarnings("unchecked")
    private static scala.collection.immutable.Seq<Expression> castChildren(
            Expression e) {
        return (scala.collection.immutable.Seq<Expression>)
                (scala.collection.immutable.Seq<?>) e.children();
    }

    /** True when every attribute the expression references resolves by
     *  exprId to an output attribute of the scan relation — i.e. the
     *  expression talks about REAL stored columns, not computed
     *  aliases that happen to share a registered column's name. */
    private static boolean attrsFromRelation(Expression e,
                                             LogicalRelation rel) {
        java.util.HashSet<Object> ids = new java.util.HashSet<>();
        scala.collection.Iterator<AttributeReference> oit =
                rel.output().iterator();
        while (oit.hasNext()) {
            ids.add(oit.next().exprId());
        }
        scala.collection.Iterator<Attribute> rit =
                e.references().iterator();
        while (rit.hasNext()) {
            if (!ids.contains(rit.next().exprId())) {
                return false;
            }
        }
        return true;
    }

    private static Expression resolveAlias(Project p, AttributeReference a) {
        scala.collection.Iterator<NamedExpression> it =
                p.projectList().iterator();
        while (it.hasNext()) {
            NamedExpression ne = it.next();
            if (ne instanceof Alias && ne.exprId().equals(a.exprId())) {
                return ((Alias) ne).child();
            }
        }
        return null;
    }

    /** Does any scan in this subtree read files under `pathPrefix`? */
    private static boolean scansUnder(LogicalPlan plan, String pathPrefix) {
        String pfx = IndexRegistry.normalize(pathPrefix);
        String pfxSlash = pfx.endsWith("/") ? pfx : pfx + "/";
        if (plan instanceof LogicalRelation
                && ((LogicalRelation) plan).relation()
                        instanceof HadoopFsRelation) {
            scala.collection.Iterator<org.apache.hadoop.fs.Path> pit =
                    ((HadoopFsRelation) ((LogicalRelation) plan).relation())
                            .location().rootPaths().iterator();
            while (pit.hasNext()) {
                String n = IndexRegistry.normalize(pit.next().toString());
                if (n.equals(pfx) || n.startsWith(pfxSlash)) {
                    return true;
                }
            }
        }
        scala.collection.Iterator<LogicalPlan> it = plan.children().iterator();
        while (it.hasNext()) {
            if (scansUnder(it.next(), pathPrefix)) {
                return true;
            }
        }
        return false;
    }

    private static LogicalPlan replaceNode(LogicalPlan plan,
                                           LogicalPlan target,
                                           LogicalPlan replacement) {
        if (plan == target) {
            return replacement;
        }
        List<LogicalPlan> kids = new ArrayList<>();
        boolean changed = false;
        scala.collection.Iterator<LogicalPlan> it = plan.children().iterator();
        while (it.hasNext()) {
            LogicalPlan c = it.next();
            LogicalPlan r = replaceNode(c, target, replacement);
            changed |= (r != c);
            kids.add(r);
        }
        return changed ? plan.withNewChildren(toSeq(kids)) : plan;
    }

    // -------------------------------------------------- pattern matchers

    /** array_contains(split(lower(attr), '\\s+'), 'kw') -> {col, kw}. */
    private static String[] matchTokenContains(Expression e) {
        if (!(e instanceof ArrayContains)) {
            return null;
        }
        ArrayContains ac = (ArrayContains) e;
        String kw = stringLit(ac.right());
        // uppercase or whitespace keywords can never match lower()-ed
        // whitespace tokens; leave such predicates untouched
        if (kw == null || kw.isEmpty() || !kw.equals(kw.toLowerCase())
                || kw.matches(".*\\s.*")) {
            return null;
        }
        if (!(ac.left() instanceof StringSplit)) {
            return null;
        }
        StringSplit sp = (StringSplit) ac.left();
        if (!"\\s+".equals(stringLit(sp.regex()))) {
            return null;
        }
        // a bounded split (limit > 0) produces different tokens than the
        // index's tokenizer — only the unlimited form is routable
        Number lim = numLit(sp.limit());
        if (lim == null || lim.intValue() != -1) {
            return null;
        }
        if (!(sp.str() instanceof Lower)) {
            return null;
        }
        Expression a = ((Lower) sp.str()).child();
        if (!(a instanceof AttributeReference)) {
            return null;
        }
        return new String[]{((AttributeReference) a).name(), kw};
    }

    private static final class Bound {
        String column;
        Number value;
        boolean isLow;
        boolean strict;
        boolean eq;
    }

    /** strip a no-op cast (same source/target type) around an attr:
     *  type coercion inserts them (e.g. cast(n_chars as bigint) IN ...). */
    private static Expression stripNoopCast(Expression e) {
        if (e instanceof org.apache.spark.sql.catalyst.expressions.Cast) {
            Expression c = ((org.apache.spark.sql.catalyst.expressions.Cast) e)
                    .child();
            if (c.dataType().equals(e.dataType())) {
                return c;
            }
        }
        return e;
    }

    /** BETWEEN parses to a RuntimeReplaceable Between(input, lo, hi)
     *  node at analysis time (replaced only later in the optimizer). */
    private static Bound[] matchBetween(Expression e) {
        if (!(e instanceof org.apache.spark.sql.catalyst.expressions.Between)) {
            return null;
        }
        org.apache.spark.sql.catalyst.expressions.Between bt =
                (org.apache.spark.sql.catalyst.expressions.Between) e;
        Expression in = stripNoopCast(bt.input());
        Number lo = numLit(bt.lower());
        Number hi = numLit(bt.upper());
        if (!(in instanceof AttributeReference) || lo == null || hi == null) {
            return null;
        }
        String col = ((AttributeReference) in).name();
        Bound l = new Bound();
        l.column = col;
        l.value = lo;
        l.isLow = true;
        Bound h = new Bound();
        h.column = col;
        h.value = hi;
        h.isLow = false;
        return new Bound[]{l, h};
    }

    /** one side attr, other side foldable numeric; >=, >, <=, <, =. */
    private static Bound matchComparison(Expression e) {
        Expression l;
        Expression r;
        boolean low;       // when attr is on the LEFT
        boolean strict;
        boolean eq = false;
        if (e instanceof GreaterThanOrEqual) {
            l = ((GreaterThanOrEqual) e).left();
            r = ((GreaterThanOrEqual) e).right();
            low = true;
            strict = false;
        } else if (e instanceof GreaterThan) {
            l = ((GreaterThan) e).left();
            r = ((GreaterThan) e).right();
            low = true;
            strict = true;
        } else if (e instanceof LessThanOrEqual) {
            l = ((LessThanOrEqual) e).left();
            r = ((LessThanOrEqual) e).right();
            low = false;
            strict = false;
        } else if (e instanceof LessThan) {
            l = ((LessThan) e).left();
            r = ((LessThan) e).right();
            low = false;
            strict = true;
        } else if (e instanceof EqualTo) {
            l = ((EqualTo) e).left();
            r = ((EqualTo) e).right();
            low = true;
            strict = false;
            eq = true;
        } else {
            return null;
        }
        l = stripNoopCast(l);
        r = stripNoopCast(r);
        AttributeReference attr;
        Number val;
        if (l instanceof AttributeReference && (val = numLit(r)) != null) {
            attr = (AttributeReference) l;
        } else if (r instanceof AttributeReference && (val = numLit(l)) != null) {
            attr = (AttributeReference) r;
            low = !low;                 // 5 <= x is a LOWER bound on x
        } else {
            return null;
        }
        Bound b = new Bound();
        b.column = attr.name();
        b.value = val;
        b.isLow = low;
        b.strict = strict;
        b.eq = eq;                      // Range.add treats eq as lo == hi
        return b;
    }

    /** col = 'literal' (either side) on a string column -> {col, value}. */
    private static String[] matchStringEquality(Expression e) {
        if (!(e instanceof EqualTo)) {
            return null;
        }
        Expression l = stripNoopCast(((EqualTo) e).left());
        Expression r = stripNoopCast(((EqualTo) e).right());
        String v;
        if (l instanceof AttributeReference
                && l.dataType() instanceof StringType
                && (v = stringLit(r)) != null) {
            return new String[]{((AttributeReference) l).name(), v};
        }
        if (r instanceof AttributeReference
                && r.dataType() instanceof StringType
                && (v = stringLit(l)) != null) {
            return new String[]{((AttributeReference) r).name(), v};
        }
        return null;
    }

    private static final class InMatch {
        String column;
        List<Object> values;
    }

    private static InMatch matchIn(Expression e) {
        if (!(e instanceof In)) {
            return null;
        }
        In in = (In) e;
        Expression v = stripNoopCast(in.value());
        if (!(v instanceof AttributeReference)) {
            return null;
        }
        List<Object> vals = new ArrayList<>();
        scala.collection.Iterator<Expression> it = in.list().iterator();
        while (it.hasNext()) {
            Number n = numLit(it.next());
            if (n == null) {
                return null;
            }
            vals.add(n);
        }
        InMatch m = new InMatch();
        m.column = ((AttributeReference) v).name();
        m.values = vals;
        return m;
    }

    /** sel < 0 = no stats (route, the pre-gate behavior). */
    private static boolean routable(double sel, double maxSel) {
        return sel < 0 || sel <= maxSel;
    }

    /** Corpus-size cost floor for CHEAP-stock routes (see
     *  MIN_CORPUS_ROWS_KEY): n <= 0 = no stats, fail open. */
    private static boolean corpusFloorOk(long n, long floor) {
        return n <= 0 || n >= floor;
    }

    private final class Range {
        final IndexRegistry.Entry entry;
        final List<Expression> sources = new ArrayList<>();
        Number lo;
        Number hi;
        boolean loStrict;
        boolean hiStrict;

        Range(IndexRegistry.Entry entry) {
            this.entry = entry;
        }

        void add(Bound b) {
            if (b.eq) {
                tightenLo(b.value, false);
                tightenHi(b.value, false);
            } else if (b.isLow) {
                tightenLo(b.value, b.strict);
            } else {
                tightenHi(b.value, b.strict);
            }
        }

        private void tightenLo(Number v, boolean strict) {
            if (lo == null || v.doubleValue() > lo.doubleValue()) {
                lo = v;
                loStrict = strict;
            } else if (v.doubleValue() == lo.doubleValue()) {
                loStrict = loStrict || strict;
            }
        }

        private void tightenHi(Number v, boolean strict) {
            if (hi == null || v.doubleValue() < hi.doubleValue()) {
                hi = v;
                hiStrict = strict;
            } else if (v.doubleValue() == hi.doubleValue()) {
                hiStrict = hiStrict || strict;
            }
        }
    }

    // ------------------------------------------------------------ helpers

    private static String stringLit(Expression e) {
        if (!(e.foldable() && e.dataType() instanceof StringType)) {
            return null;
        }
        Object v = e.eval(null);
        return v == null ? null : v.toString();
    }

    private static Number numLit(Expression e) {
        if (!e.foldable() || e instanceof AttributeReference) {
            return null;
        }
        Object v;
        try {
            v = e.eval(null);
        } catch (Exception ex) {
            return null;
        }
        if (v instanceof Decimal) {
            return ((Decimal) v).toJavaBigDecimal();
        }
        return v instanceof Number ? (Number) v : null;
    }

    private static boolean attributesOnly(
            org.apache.spark.sql.catalyst.plans.logical.Project p) {
        scala.collection.Iterator<
                org.apache.spark.sql.catalyst.expressions.NamedExpression> it =
                p.projectList().iterator();
        while (it.hasNext()) {
            if (!(it.next() instanceof AttributeReference)) {
                return false;
            }
        }
        return true;
    }

    private static boolean hasAttr(LogicalPlan plan, String name) {
        return findAttr(plan.output(), name) != null;
    }

    private static Attribute findAttr(
            scala.collection.immutable.Seq<Attribute> out, String name) {
        scala.collection.Iterator<Attribute> it = out.iterator();
        while (it.hasNext()) {
            Attribute a = it.next();
            if (a.name().equalsIgnoreCase(name)) {
                return a;
            }
        }
        return null;
    }

    private static <T> scala.collection.immutable.Seq<T> toSeq(List<T> l) {
        return scala.jdk.javaapi.CollectionConverters.asScala(l).toSeq();
    }
}

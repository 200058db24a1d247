"""Generate docs/FUNCTIONS.md: the registered SQL function inventory."""

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession

import datasketches_spark as dss

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
agg = dss.build_aggregate_registry()
sca = dss.build_scalar_registry()

groups: dict[str, list[tuple[str, str]]] = {}
for name in sorted(agg):
    fam = name.replace("datasketch_", "").split("_")[0]
    groups.setdefault(fam, []).append((name, "AGG"))
for name in sorted(sca):
    fam = name.replace("datasketch_", "").split("_")[0]
    groups.setdefault(fam, []).append((name, "SCALAR"))

lines = [
    "# SQL function inventory",
    "",
    "Everything `datasketches_spark.register(spark)` adds to the SQL",
    "catalog, mirroring the reference's registration loop",
    "(/root/reference/src/datasketches_extension.cpp:30-41).  AGG entries",
    "build sketches from raw values and merge when fed sketch blobs; all",
    "are also reachable from the Column API (`datasketches_spark.api`).",
    "",
    "NULL arguments to a SCALAR, as in the reference's scalar functions:",
    "a NULL sketch or NULL required argument gives NULL; a NULL or omitted",
    "optional argument takes its default; a NaN DOUBLE argument counts as",
    "NULL.  A missing required argument, or one argument too many, raises.",
    "",
]
# Reference twins overload these names by arity to make the trailing
# argument optional (codegen/generator.py:156-196 inclusive,
# :244-261/:424-441 describe verbosity).  Python UDFs are not
# arity-checked at analysis time, so one registration with defaulted
# trailing parameters serves every arity (matching DuckDB's overload
# set).
_VERBOSE_DESCRIBE = ("quantiles", "kll", "kll_items", "req", "hll", "cpc")
_ARITY = {
    "cdf": "trailing `inclusive` BOOL optional, default true (DuckDB parity)",
    "pmf": "trailing `inclusive` BOOL optional, default true (DuckDB parity)",
    "rank": "trailing `inclusive` BOOL optional, default true (DuckDB parity)",
    "quantile": "trailing `inclusive` BOOL optional, default true (DuckDB parity)",
    "describe": "optional verbosity bools (DuckDB parity)",
}


_SPECIAL = {
    "datasketch_reservoir_to_wire": (
        "exports the Apache ReservoirLongsSketch format (serVer 2; "
        "differentially fuzzed vs live datasketches-java both "
        "directions — tests/test_reservoir_wire.py). Longs-only and "
        "uniform-only: non-integer items, weighted samples, and k<2 "
        "refuse with clear errors"
    ),
    "datasketch_reservoir_to_wire_strings": (
        "exports the GENERIC Apache ReservoirItemsSketch image with "
        "the ArrayOfStringsSerDe item framing — any items, no int64 "
        "restriction; java reads it via ReservoirItemsSketch.heapify "
        "with new ArrayOfStringsSerDe() (differential tests in "
        "tests/test_reservoir_wire.py)"
    ),
    "datasketch_reservoir_from_wire": (
        "imports an Apache ReservoirLongsSketch blob (k/n/sample set "
        "cross exactly; A-ES merge tags are re-synthesized as "
        "exponential order statistics so imported states keep merging "
        "uniformly); every reservoir reader also sniffs wire blobs"
    ),
    "datasketch_cpc_lower_bound": (
        "kappa 1..3 bands from the ICON estimator constant "
        "0.7213/sqrt(k) (sketches/cpc.py; Apache's tighter 0.589 is the "
        "HIP estimator, which does not survive merges — Apache's own "
        "merged CPC sketches fall back to ICON the same way)"
    ),
    "datasketch_cpc_upper_bound": (
        "kappa 1..3 bands from the ICON estimator constant "
        "0.7213/sqrt(k) — see lower_bound note"
    ),
    "datasketch_theta_to_wire": (
        "exports the Apache DataSketches compact-ordered theta format "
        "(byte-identical to datasketches-java in exact mode; "
        "cross-system MERGEABLE since update hashing is murmur3/9001)"
    ),
    "datasketch_theta_from_wire": (
        "imports an Apache compact theta blob into the engine frame; "
        "every theta reader also sniffs wire blobs directly"
    ),
    "datasketch_theta_get_seed": (
        "returns the seed HASH (37836 = 0x93CC for the default seed "
        "9001), matching the reference's get_seed_hash() passthrough"
    ),
    "datasketch_kll_to_wire": (
        "exports the Apache DataSketches KLL doubles/floats format "
        "(byte-identical to datasketches-java for empty/single forms, "
        "heapify-verified live for the full form — tests/test_kll_wire.py)"
    ),
    "datasketch_kll_from_wire": (
        "imports an Apache KLL doubles/floats blob into the engine "
        "frame; every KLL reader also sniffs wire blobs directly"
    ),
    "datasketch_frequent_items_to_wire": (
        "exports the Apache DataSketches items-sketch format with the "
        "strings serde (cross-validated live against datasketches-java "
        "— tests/test_fi_wire.py; stored counts are lower bounds in "
        "both engines, so counts map across directly)"
    ),
    "datasketch_frequent_items_from_wire": (
        "imports an Apache frequent-items blob (strings serde) into "
        "the engine frame; every FI reader also sniffs wire blobs"
    ),
    "datasketch_tdigest_to_wire": (
        "exports the Apache DataSketches t-digest doubles format "
        "(empty/single byte-identical to datasketches-java, full form "
        "heapify+merge verified live — tests/test_tdigest_wire.py)"
    ),
    "datasketch_tdigest_from_wire": (
        "imports an Apache t-digest blob into the engine frame; every "
        "tdigest reader also sniffs wire blobs directly"
    ),
    "datasketch_hll_to_wire": (
        "exports the Apache DataSketches HLL format (LIST/SET coupons "
        "or HLL_8; registers byte-identical to datasketches-java for "
        "the same inputs, so blobs MERGE cross-system — "
        "tests/test_hll_wire.py)"
    ),
    "datasketch_hll_from_wire": (
        "imports an Apache HLL blob (compact LIST/SET/HLL_4/HLL_6/"
        "HLL_8) into the engine frame; every HLL reader also sniffs "
        "wire blobs"
    ),
    "datasketch_aod": (
        "ArrayOfDoubles tuple sketch AGG — datasketch_aod(lg_k, key, "
        "array(v1, ...)): distinct-key estimation with an element-wise-"
        "SUMMED double summary per retained key, so one bounded blob "
        "answers COUNT(DISTINCT key) AND SUM(v) over the distinct keys. "
        "Apache tuple wire (serVer 1, family 9); differentially tested "
        "vs live datasketches-java — tests/test_tuple_aod_wire.py. "
        "Scale path: aggregation.tuple_sketch_agg (blob-only shuffle)"
    ),
    "datasketch_aod_union_agg": (
        "merges tuple sketch blobs (overlapping keys sum their "
        "summaries — the canonical ArrayOfDoubles combiner)"
    ),
    "datasketch_aod_column_sums": (
        "estimated per-column SUM over ALL distinct keys (retained "
        "sums / theta; exact in exact mode)"
    ),
    "datasketch_aod_column_sums_retained": (
        "raw per-column sums over the retained entries only"
    ),
    "datasketch_aod_column_means": (
        "per-distinct-key mean of each summary column (theta cancels)"
    ),
    "datasketch_aod_to_wire": (
        "exports Apache ArrayOfDoublesCompactSketch bytes — heapify-"
        "and union-able by datasketches-java and every Apache tuple "
        "reader"
    ),
    "datasketch_aod_from_wire": (
        "imports an Apache ArrayOfDoubles blob — compact OR the "
        "updatable QuickSelect table image; every aod reader also "
        "sniffs wire blobs"
    ),
    "datasketch_fdt": (
        "Frequent Distinct Tuples AGG — datasketch_fdt(lg_k, "
        "array(dim1, dim2, ...)): a theta sample of DISTINCT string "
        "tuples; datasketch_fdt_top_groups answers 'which dimension-"
        "value groups contain the most distinct tuples' without the "
        "full GROUP BY COUNT(DISTINCT) shuffle. Apache generic-tuple "
        "wire (serVer 3, strings summary) — java's FdtSketch heapifies "
        "and unions our blobs; hash parity via Util.stringArrHash "
        "(XXH64/2050804337 over UTF-16 units of the ','-join). "
        "Differential: tests/test_fdt_wire.py"
    ),
    "datasketch_fdt_top_groups": (
        "top groups over chosen dimension positions by estimated "
        "distinct-tuple count (count/theta, HT bounds); optional "
        "limit arg"
    ),
    "datasketch_bloomfilter": (
        "Apache BloomFilter AGG (filters.bloomfilter) — XXH64-hashed "
        "bits BYTE-IDENTICAL to datasketches-java for the same items/"
        "geometry/seed, so filter state crosses systems (fixed 6 "
        "hashes, seed 9001 for reproducibility; K = lg(num_bits)). "
        "Distinct from datasketch_bloom (Spark-parity bits; the two "
        "hash schemes cannot convert). The blob IS the Apache wire. "
        "Differential: tests/test_bloomfilter_wire.py"
    ),
    "datasketch_bloomfilter_union_agg": (
        "merges Apache BloomFilter blobs (bitwise OR; geometry and "
        "seed must match, java parity)"
    ),
    "datasketch_bloomfilter_might_contain": (
        "membership probe — per-distinct-blob vectorized numpy pass, "
        "bit-parity with java query()"
    ),
    "datasketch_varopt_to_wire": (
        "exports a reservoir state as an Apache VarOptItemsSketch blob "
        "(longs serde) — the ecosystem's WEIGHTED sampling wire family. "
        "Every sampled item crosses with its Horvitz–Thompson "
        "estimation weight (exact weights in exact mode; τ-adjusted in "
        "estimation mode; uniform estimation states export as a pure "
        "equal-weight R region). Differentially fuzzed vs live "
        "datasketches-java — tests/test_varopt_wire.py"
    ),
    "datasketch_varopt_to_wire_strings": (
        "VarOpt export with the ArrayOfStringsSerDe item framing (any "
        "items; the wire carries no serde marker, the reader is told — "
        "same contract as the typed quantile readers)"
    ),
    "datasketch_varopt_from_wire": (
        "imports an Apache VarOptItemsSketch blob as a WEIGHTED "
        "reservoir state: H weights exact, R items at τ = totalWtR/r, "
        "A-ES tags re-synthesized (sample-of-sample composition keeps "
        "subset-sum estimates unbiased under later merges); serde "
        "auto-detected; every reservoir reader also sniffs VarOpt blobs"
    ),
    "datasketch_reservoir_sample_weights": (
        "Horvitz–Thompson estimation weight per sampled item (parallel "
        "to _items): each item's unbiased share of the total stream "
        "weight — 1 / n/k uniform; raw / τ-adjusted weighted"
    ),
    "datasketch_reservoir_total_weight_estimate": (
        "unbiased estimate of the TOTAL stream weight (= n when "
        "uniform): the sum of the sample weights"
    ),
    "datasketch_ebpps": (
        "EBPPS — exact-and-bounded probability-proportional-to-size "
        "sampling (Apache's third sampling family): each item is in "
        "the sample with probability EXACTLY min(1, k*w/W), never more "
        "than ceil(C) <= k items retained.  Use datasketch_ebpps_weighted "
        "for per-row weights; statistics (C, cumulative weight) are "
        "deterministic and bit-match live datasketches-java "
        "(tests/test_ebpps.py)"
    ),
    "datasketch_ebpps_to_wire": (
        "exports the Apache EbppsItemsSketch format (serVer 1, longs "
        "serde; _strings variant for any items) — heapify-verified "
        "against the live jar both directions"
    ),
    "datasketch_ebpps_from_wire": (
        "imports an Apache EbppsItemsSketch blob (serde auto-detected); "
        "every ebpps reader also sniffs wire blobs"
    ),
    "datasketch_ebpps_c": (
        "the EXPECTED sample size C (deterministic given the weight "
        "stream; the realized sample has floor(C) full items plus one "
        "partial item carried with probability C%1)"
    ),
    "datasketch_hll_estimate": (
        "dense mode uses Ertl's improved raw estimator "
        "(arXiv:1702.01284) — unbiased across the range, no "
        "linear-counting switch; sparse mode is exact"
    ),
}

# Integer-typed wire readers (round 8): the Apache quantile-family
# preambles carry NO item type, so integer blobs (the reference's
# sketch_*_bigint / sketch_*_integer typed aliases,
# codegen/generator.py:49-60) must be imported through a typed
# reader, exactly like Apache's typed heapify entry points.
for _fam in ("kll", "quantiles", "req"):
    _SPECIAL[f"datasketch_{_fam}_from_wire_bigint"] = (
        f"imports the reference's sketch_{_fam}_bigint wire layout "
        "(8-byte integer items); engine frames pass through untouched. "
        "The untyped from_wire would misread these bytes as doubles — "
        "the preamble has no item type, the caller names it"
    )
    _SPECIAL[f"datasketch_{_fam}_from_wire_integer"] = (
        f"imports the reference's sketch_{_fam}_integer wire layout "
        "(4-byte integer items, widened losslessly to int64); engine "
        "frames pass through untouched"
    )


def _note(name: str) -> str:
    if name in _SPECIAL:
        return f" — {_SPECIAL[name]}"
    if name.startswith("datasketch_tdigest"):
        return ""  # tdigest has no inclusive arg in the reference either
    fam = name.removeprefix("datasketch_").removesuffix("_describe")
    if name.endswith("_describe") and fam not in _VERBOSE_DESCRIBE:
        return ""  # describe without verbosity arguments
    for suffix, note in _ARITY.items():
        if name.endswith("_" + suffix):
            return f" — {note}"
    return ""


total = 0
for fam in ["theta", "aod", "fdt", "hll", "cpc", "kll", "quantiles", "req", "tdigest", "frequent", "bloom", "bloomfilter", "reservoir", "varopt", "ebpps", "cms", "stats"]:
    fns = groups.get(fam, [])
    total += len(fns)
    lines.append(f"## {fam} ({len(fns)} functions)")
    lines.append("")
    for name, kind in sorted(fns, key=lambda x: (x[1] != "AGG", x[0])):
        lines.append(f"- `{name}` ({kind}){_note(name)}")
    lines.append("")
lines.append(f"**Total: {total} registered functions** "
             f"({len(agg)} aggregates, {len(sca)} scalars).")
lines.append("")
lines.append("Native JVM fast path (not in the SQL registry; Column API only):")
lines.append("`hll_native.hll_build` / `hll_merge` / `hll_estimate` wrap Spark's")
lines.append("built-in Apache DataSketches HLL (wire-compatible blobs).")
lines.append("")
lines.append("## SQL-surface scale path (UDTF)")
lines.append("")
lines.append(
    "- `datasketch_partials` (UDTF) — the two-phase BLOB-ONLY shuffle "
    "plan from pure `spark.sql()`.  The plain AGG registrations above "
    "shuffle raw rows (Spark runs grouped-agg Arrow UDFs without "
    "partial aggregation); this UDTF over an UNPARTITIONED table "
    "argument evaluates once per existing input partition with no "
    "exchange, emitting one sketch blob per (partition × group) — the "
    "map-side combine.  Contract: every table column except the LAST "
    "is a group key, the last is the value — family "
    "'reservoir_weighted' takes the last TWO columns as (value, "
    "weight), the SQL twin of sketch_agg(weight_col=).  Do not write "
    "PARTITION BY.  Map-phase memory is bounded (per-group buffers "
    "flush into the mergeable sketch every 64k values).  Recipe "
    "(plan-tested in tests/test_sql_scale.py):")
lines.append("")
lines.append("```sql")
lines.append("SELECT g, datasketch_theta(sketch) AS sketch")
lines.append("FROM datasketch_partials(TABLE(SELECT g, x FROM t), 'theta', 14)")
lines.append("GROUP BY g")
lines.append("```")
lines.append("")
lines.append(
    "Every `datasketch_<family>` AGG merges when fed blobs, so the "
    "outer GROUP BY completes the two-phase plan.  From Python prefer "
    "`datasketches_spark.aggregation.sketch_agg` (same plan, "
    "Arrow-batched map phase; functions/sql_scale.py).")
lines.append("")
lines.append("## Streaming state (Python API)")
lines.append("")
lines.append(
    "`datasketches_spark.streaming.stateful_sketch_stream` keeps one "
    "bounded sketch blob per key in Spark's state store "
    "(`applyInPandasWithState`).  Lateness and state lifetime compose "
    "as follows (one GroupStateTimeout per operator — these are the "
    "legal combinations):")
lines.append("")
lines.append(
    "- `ts_col` + `watermark`: rows below the event-time watermark are "
    "dropped before the stateful fn (the filter arms only under "
    "EventTimeTimeout; the watermark lags one batch).")
lines.append(
    "- `ts_col` + `watermark` + `event_ttl_ms`: ADDITIONALLY evicts a "
    "key once the watermark passes its last event time + TTL — the "
    "final cumulative sketch is emitted with `rows_in_batch = -1` "
    "(absorb it into a SketchStore downstream), the state row is "
    "removed, and a reappearing key starts fresh.  Late-data "
    "protection and TTL in ONE operator.")
lines.append(
    "- `idle_timeout_ms` (no watermark): processing-time TTL for "
    "unbounded key spaces when event time is unavailable.  Mutually "
    "exclusive with the watermark pair.")
lines.append("")
lines.append("## `*_describe` text: parity and divergence")
lines.append("")
lines.append(
    "The reference implements describe as datasketches-cpp "
    "`sketch.to_string(summary, detail, false, false)` "
    "(src/generated.cpp:6006) and its own tests assert only the "
    "summary-header substring (`LIKE '%HLL sketch summary%'`, "
    "`'%CPC sketch summary%'` — test/sql/datasketch_hll.test:84, "
    "datasketch_cpc.test).  This engine's describe strings keep that "
    "contract: every family's first line is the Apache-style "
    "`### <Family> sketch summary:` header (t-Digest: "
    "`### t-Digest summary:`, matching the non-Apache tdigest "
    "library's convention), so ported SQL that greps the reference's "
    "tested patterns behaves identically.  The BODY layout diverges "
    "deliberately: field names/ordering are this engine's own "
    "(estimates to 3 decimals, lower-case field labels) rather than a "
    "byte-level clone of each datasketches-cpp to_string, which "
    "varies by library version anyway.  SQL that parses describe "
    "BODY text (no reference test does) is not portable in either "
    "direction — use the typed metadata scalars "
    "(`*_is_empty`, `*_num_retained`, `*_lg_config_k`, ...) instead; "
    "every field the describe text shows has a typed twin.")
lines.append("")
lines.append("## Pipeline-layer contracts reachable from SQL-adjacent APIs")
lines.append("")
lines.append(
    "- **Decontamination hash join** "
    "(`pipeline.decontam.contamination(hash_join=True)`, the default): "
    "the broadcast benchmark n-gram set is keyed by `xxhash64(ngram)` "
    "— 8-byte longs probe ~30% faster than a string map.  A 64-bit "
    "collision can perturb a document's distinct-overlap count in "
    "EITHER direction with probability ~2^-64 per pair (expected "
    "collisions < 1e-5 per 100 TB-scale corpus); pass "
    "`hash_join=False` for exact string equality.")
lines.append(
    "- **Bloom runtime filter routes** "
    "(`runtime_filter.bloom_prune`, `bloom_pruned_anti_join`): classic: "
    "Spark's filter for every key type — built by the JVM's "
    "`DataFrameStatFunctions.bloomFilter` and probed by Catalyst's "
    "`might_contain` over the filter bytes, a codegen'd Filter with no "
    "Python node (tests/test_plan_canaries.py); integral keys enter "
    "as BIGINT, every other type as `xxhash64(key)`.  Connect: the "
    "Apache filter (`bloomfilter_blob`), probed by an Arrow UDF; its "
    "BYTES broadcast via `sc.broadcast`, never as a DataFrame column.")
lines.append(
    "- **Integer-typed quantile wire blobs**: export an int64 "
    "KLL/Quantiles/REQ sketch with the family's `*_to_wire` (emits "
    "the 8-byte-item `sketch_*_bigint` layout) and import with "
    "`*_from_wire_bigint` / `*_from_wire_integer` — the untyped "
    "`*_from_wire` assumes doubles/floats, as every Apache reader "
    "does.  `io.write_wire_table` records the item dtype in column "
    "metadata and `io.read_wire_table` routes through the typed "
    "reader automatically; foreign integer tables must pass "
    "`dtype='int64'|'int32'`.")
lines.append(
    "- **Multimodal decode tiers** (`pipeline.multimodal`): every "
    "decoder probes per executor — PIL/cv2 when installed, then the "
    "always-available stdlib tier (BMP/PNG/baseline-JPEG images, "
    "MJPEG-AVI video frames, PCM/IEEE-float WAV audio — real pixel/"
    "sample math, corruption-fuzzed), then clearly-marked "
    "deterministic fakes.  `strict=True` forbids the fake tier: "
    "payloads no real tier decodes raise NotImplementedError, never "
    "fabricate, never silently drop.  `media_probe` extracts "
    "kind/dims/frames/fps/rate/duration from container HEADERS only "
    "(no entropy decode) — the stratify-before-decode pass.")

open("/root/repo/docs/FUNCTIONS.md", "w").write("\n".join(lines) + "\n")
print(f"wrote docs/FUNCTIONS.md: {total} functions")
spark.stop()

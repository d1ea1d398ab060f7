#!/usr/bin/env python3
"""Single-source-of-truth inventory generator + lint (VERDICT r14 #3).

The operator registry lives in ONE place — the `SparkEntry.entries` list
of `Entry(name, build, oracleSql)` records, from which the driver's
`queries` and `oracleSql` maps are derived — and the human-facing
coverage docs (README's two coverage tables, SURVEY §2.11's family
pointers) must never drift from it. This script:

 1. parses that list (entry name -> implementing `Object.method`) from
    SparkEntry.scala;
 2. LINTS the hand-written README coverage tables: every backticked
    `entry` they cite must exist in the registry (stale rows fail), and
    every registry entry must be cited by at least one table row
    (uncovered entries fail);
 3. REGENERATES the machine-derived "Registry index" section of README.md
    between the BEGIN/END GENERATED markers — entry -> implementing
    function -> oracle presence — so the complete, always-current map is
    one `python3 tools/gen_inventory.py` away and CANNOT be stale (it is
    derived, not maintained).

Exit 0 = docs in sync (and index rewritten if needed); exit 1 = drift,
with every offending name printed. Run it after adding/removing a
registry entry; the OutputSchemaSpec-style correctness gates stay in
sbt — this is documentation lint only.
"""
import re
import sys

ENTRY = "src/main/scala/graft/SparkEntry.scala"
README = "README.md"
BEGIN = "<!-- BEGIN GENERATED registry index (tools/gen_inventory.py) -->"
END = "<!-- END GENERATED registry index -->"
TWIN_BEGIN = "<!-- BEGIN GENERATED streaming twins (tools/gen_inventory.py) -->"
TWIN_END = "<!-- END GENERATED streaming twins -->"

# ---------------------------------------------------------------------------
# Streaming-twin coverage (VERDICT r15 #7). TWINS maps every streaming
# kernel def (parsed from the source files below — drift fails) to the batch
# registry entries it pairs with; NO_TWIN records, for every in-scope batch
# entry without a twin, the one-line reason it has none. Scope = entries
# implemented by EventsStream/Merge plus EXTRA_SCOPE; an in-scope entry in
# neither map fails the lint.
# ---------------------------------------------------------------------------
TWIN_SOURCES = [
    "src/main/scala/graft/streaming/EventsStream.scala",
    "src/main/scala/graft/streaming/DocStream.scala",
    "src/main/scala/graft/warehouse/Merge.scala",
]
TWIN_DEF_RE = re.compile(
    r"def (streaming[A-Z]\w+|sessionize\w*|cusumDetect|mergeCdcStream)\(")
TWINS = {
    "streamingWindowAgg": (["window_agg"],
        "identical transform behind a 2h watermark; append emits closed windows"),
    "streamingSlidingAgg": (["sliding_window_agg"],
        "same sliding window() agg; watermark bounds open-frame state"),
    "streamingIngestDedup": (["ingest_dedup"],
        "dropDuplicatesWithinWatermark — one key per in-horizon event"),
    "streamingCorpusGate": (["corpus_prep_pipeline"],
        "the funnel's per-doc stages at ingest: shared scorer gate, split drop, in-horizon exact dedup, static contamination anti-join"),
    "streamingChunkCensus": (["chunk_dedup"],
        "per-tumbling-window boilerplate census: in-horizon (chunk_key, doc_id) dedup feeding a windowed count — distinct spread + first carrier per window"),
    "streamingChunkStrip": (["chunk_dedup_apply"],
        "map-side boilerplate gate: in-row flagged-span probe against the collected census artifact + the batch kernel's indexed strip filter — zero state, zero shuffle"),
    "streamingModelGate": (["quality_lr_score"],
        "model-gated admission: per-row features + sigmoid with the offline-trained 4-double LR artifact as literals — zero state, zero shuffle; the rule-gate -> model-gate substitution at ingest"),
    "streamingMediaDedup": (["media_near_dedup"],
        "per-row dHash fingerprint over the decoded grid + the shared banded pair-stream body — a re-encoded re-upload is flagged at ingest where the digest check passes it"),
    "streamingMediaGate": (["media_near_apply"],
        "ingest drop gate: in-row dHash + broadcast anti-join against the static library fingerprint set on the exact batch Hamming predicate — zero state, zero shuffle; a re-encoded re-upload never enters the corpus"),
    "streamingAudioGate": (["audio_near_dedup"],
        "the clip twin of the media gate: in-row envelope dHash (same 60-bit batch fingerprint) + broadcast anti-join at Hamming ≤ HamMax against the static library — zero state, zero shuffle; a requantized re-upload never enters the corpus"),
    "streamingSimhashDedup": (["simhash_dedup"],
        "per-row native simhash_word fingerprint (no shuffle) + banded stream-stream self-join; state = in-horizon docs × 8 bands"),
    "streamingSimhashDedupWide": (["simhash_dedup_wide"],
        "the crawl-scale 120-bit form: two native words, 8×15-bit bands — 32k-value band buckets keep in-horizon state small 181× longer"),
    "streamingClickAttribution": (["click_attribution"],
        "watermarked interval stream-stream join, state bounded by the join horizon"),
    "streamingUnattributedClicks": (["unattributed_clicks"],
        "left-outer stream-stream join; unmatched side emits at watermark"),
    "streamingEnrich": (["stream_enrich"],
        "stream-static broadcast joins against the dimension tables"),
    "streamingRateLimit": (["rate_limit_events"],
        "first-n per (user, day) via keyed counter state + event-time TTL"),
    "streamingForwardFill": (["forward_fill"],
        "per-user LOCF state; optional staleness TTL; late events dropped"),
    "streamingInterpolate": (["linear_interpolate"],
        "bounded-lateness fills: a gap emits when the watermark passes its right endpoint"),
    "streamingHeavyHitters": (["heavy_hitters_check"],
        "windowed Misra-Gries state; finalized windows match the batch sketch"),
    "cusumDetect": (["cusum_alerts"],
        "Page's recursion as two longs of keyed state; bit-equal to the two-phase batch backtest"),
    "sessionize": (["session_boundaries", "session_metrics"],
        "flatMapGroupsWithState gap sessionizer — same 30-min rule as the batch lag kernel"),
    "sessionizeWithTimeout": (["session_boundaries", "session_metrics"],
        "the sessionizer with an event-time timeout flushing idle sessions"),
    "mergeCdcStream": (["merge_cdc"],
        "foreachBatch CDC fold onto versioned snapshots; replay folds onto the original predecessor"),
}
NO_TWIN = {
    "session_window_agg":
        "native session_window() is itself streaming-capable — add a watermark and the same plan streams",
    "dense_hourly_agg":
        "zero rows for silent hours need the GLOBAL corpus hour bounds — a read-time presentation join, not an online fold",
    "moving_hourly_avg":
        "a frame over the dense global grid; its online shape is the sliding-window twin, the grid itself is read-time",
    "incremental_agg":
        "already incremental by design — the snapshot-fold artifact lifecycle IS the streaming equivalent",
    "snapshot_diff":
        "audits two persisted snapshots after the fact — inherently offline artifact comparison",
    "revenue_cusum_changepoint":
        "offline argmax over the COMPLETE series (a changepoint is defined in hindsight); its online form is cusum_alerts",
}
# streaming-shaped entries implemented outside EventsStream/Merge that the
# twin table must still cover
EXTRA_SCOPE = {"rate_limit_events", "forward_fill", "cusum_alerts",
               "revenue_cusum_changepoint", "heavy_hitters_check"}


def twin_section(queries):
    problems = []
    defs = set()
    for path in TWIN_SOURCES:
        defs.update(TWIN_DEF_RE.findall(open(path).read()))
    for d in sorted(defs - set(TWINS)):
        problems.append(f"streaming def `{d}` missing from gen_inventory TWINS")
    for d in sorted(set(TWINS) - defs):
        problems.append(f"TWINS lists `{d}` which no longer exists in source")
    scope = {n for n, impl in queries.items()
             if impl.split(".")[0] in ("EventsStream", "Merge")} | EXTRA_SCOPE
    twinned = {e for entries, _ in TWINS.values() for e in entries}
    for e in sorted(twinned - set(queries)):
        problems.append(f"TWINS cites batch entry `{e}` not in the registry")
    for e in sorted(set(NO_TWIN) - set(queries)):
        problems.append(f"NO_TWIN cites batch entry `{e}` not in the registry")
    for e in sorted(scope - twinned - set(NO_TWIN)):
        problems.append(
            f"in-scope batch entry `{e}` has neither a streaming twin nor a NO_TWIN reason")
    rows = [f"| `{d}` | {', '.join('`%s`' % e for e in TWINS[d][0])} | {TWINS[d][1]} |"
            for d in sorted(TWINS)]
    rows += [f"| — | `{e}` | {NO_TWIN[e]} |" for e in sorted(NO_TWIN)]
    gen = "\n".join([
        TWIN_BEGIN,
        "",
        f"### Batch↔streaming twin coverage ({len(TWINS)} twins, generated — do not edit)",
        "",
        "Every streaming kernel def in EventsStream/Merge mapped to the batch",
        "registry entries it is pair-tested against (or, for batch kernels with",
        "no twin, the reason none exists). `tools/gen_inventory.py` parses the",
        "defs from source — a new streaming kernel or a renamed batch entry",
        "fails the lint until this table knows about it.",
        "",
        "| Streaming kernel | Batch entries | Pairing / why none |",
        "|---|---|---|",
        *rows,
        "",
        TWIN_END,
    ])
    return gen, problems

ENTRY_RE = re.compile(
    r'Entry\("([a-z0-9_]+)", ([A-Za-z]+\.[A-Za-z0-9]+)\(_, _\),\s*[A-Za-z]+\.[A-Za-z0-9]+\)')


def parse_entry(path):
    """Entry name -> implementing `Object.method`, plus any name listed
    twice (a Map view of the list would silently keep the last one)."""
    pairs = ENTRY_RE.findall(open(path).read())
    names = [n for n, _ in pairs]
    dups = sorted({n for n in names if names.count(n) > 1})
    return dict(pairs), dups


def cited_entries(readme_src):
    """Entry names cited in the two hand-written coverage tables (any
    backticked lowercase_snake token in a table row)."""
    cited = set()
    in_generated = False
    for line in readme_src.splitlines():
        if line.strip() == BEGIN:
            in_generated = True
        if line.strip() == END:
            in_generated = False
            continue
        if in_generated or not line.startswith("|"):
            continue
        cited.update(re.findall(r"`([a-z][a-z0-9_]+)`", line))
    return cited


def second_scale_problems(queries):
    """Lint the latest committed second-scale artifact
    (CORRECTNESS_sf0.1_r<N>.json, see tools/second_scale.sh) against the
    registry: its entry set must match exactly and every entry must be
    green — a registry that grew or shrank since the last sf0.1 pass is
    exactly the silent rot VERDICT r16 #5 flagged. The legacy .txt
    artifact (pre-r17) is ignored once a JSON artifact exists."""
    import glob, json
    arts = sorted(glob.glob("CORRECTNESS_sf0.1_r*.json"),
                  key=lambda p: int(re.search(r"r0*(\d+)", p).group(1)))
    if not arts:
        return ["no CORRECTNESS_sf0.1_r*.json second-scale artifact — "
                "run tools/second_scale.sh"]
    latest = arts[-1]
    try:
        art = json.load(open(latest))
    except Exception as e:
        return [f"{latest} unreadable: {e}"]
    problems = []
    missing = sorted(set(queries) - set(art))
    stale = sorted(set(art) - set(queries))
    if missing:
        problems.append(
            f"{latest} lacks {len(missing)} registry entries "
            f"({', '.join(missing[:5])}{'…' if len(missing) > 5 else ''}) — "
            "re-run tools/second_scale.sh")
    if stale:
        problems.append(
            f"{latest} carries {len(stale)} entries no longer in the registry "
            f"({', '.join(stale[:5])}{'…' if len(stale) > 5 else ''}) — "
            "re-run tools/second_scale.sh")
    bad = sorted(n for n, v in art.items()
                 if not (v.get("rows_match") and v.get("schema_match")
                         and v.get("hash_match")))
    if bad:
        problems.append(
            f"{latest} records {len(bad)} non-green entries "
            f"({', '.join(bad[:5])}{'…' if len(bad) > 5 else ''})")
    return problems


def main():
    queries, dups = parse_entry(ENTRY)
    readme_src = open(README).read()
    problems = [f"registry entry `{n}` is listed more than once" for n in dups]
    problems.extend(second_scale_problems(queries))

    # README lint — compare only names that LOOK like registry entries
    # (contain an underscore or are registry members) to skip incidental
    # backticked code like `sbt` or column names
    cited = cited_entries(readme_src)
    cited_entryish = {c for c in cited if c in queries or "_" in c}
    known_non_entries = {
        # backticked non-entry identifiers legitimately cited in rows
        "misra_gries", "session_window", "nfc_normalize", "cosine_similarity",
        "local_verify", "gen_scale", "gen_inventory", "bench_trend",
        "oracle_sql", "bench_out", "bench_quiet", "n_chars", "doc_id",
        "user_id", "event_type", "vec_id",
    }
    for n in sorted(cited_entryish - set(queries) - known_non_entries):
        problems.append(f"README cites `{n}` which is not in SparkEntry.queries (stale row?)")
    for n in sorted(set(queries) - cited):
        problems.append(f"registry entry `{n}` is cited by no README coverage row")

    # regenerate the machine-derived index
    # every Entry carries its oracle SQL, so the Oracle column is always yes
    rows = [f"| `{n}` | `{queries[n]}` | yes |" for n in sorted(queries)]
    gen = "\n".join([
        BEGIN,
        "",
        f"### Registry index ({len(queries)} entries, generated — do not edit)",
        "",
        "Derived from `SparkEntry.queries` by `tools/gen_inventory.py`; the",
        "script also lints the hand-written tables above against the registry",
        "(stale or uncovered entries fail). Regenerate after registry changes.",
        "",
        "| Entry | Implementation | Oracle |",
        "|---|---|---|",
        *rows,
        "",
        END,
    ])
    if BEGIN in readme_src:
        new_src = re.sub(re.escape(BEGIN) + r".*?" + re.escape(END),
                         gen, readme_src, flags=re.S)
    else:
        new_src = readme_src.rstrip() + "\n\n" + gen + "\n"

    # streaming-twin coverage table (VERDICT r15 #7)
    twin_gen, twin_problems = twin_section(queries)
    problems.extend(twin_problems)
    if TWIN_BEGIN in new_src:
        new_src = re.sub(re.escape(TWIN_BEGIN) + r".*?" + re.escape(TWIN_END),
                         twin_gen, new_src, flags=re.S)
    else:
        new_src = new_src.rstrip() + "\n\n" + twin_gen + "\n"
    if new_src != readme_src:
        open(README, "w").write(new_src)
        print(f"README registry index regenerated ({len(queries)} entries)")
    else:
        print(f"README registry index up to date ({len(queries)} entries)")

    if problems:
        print(f"\n== {len(problems)} inventory problems:")
        for p in problems:
            print("  " + p)
        return 1
    print("== inventory in sync")
    return 0


if __name__ == "__main__":
    sys.exit(main())

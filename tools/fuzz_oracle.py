#!/usr/bin/env python3
"""Adversarial oracle-parity fuzz: generate a synthetic documents table
full of the inputs the driver fixtures never contain (vertical tabs,
CJK, emoji/surrogates, bullets, ellipses, '#', empty/whitespace-only
docs, regex metacharacters, repeated boilerplate), run the text-family
queries through graft.Verify on it, and hash-compare against the DuckDB
oracles — the same check the driver's gate does, pointed at the nasty
corner of the input space.

Usage: python3 tools/fuzz_oracle.py [seed]
(writes /tmp/graft-fuzz/<seed>/, exits non-zero on any mismatch)
"""
import json
import os
import random
import subprocess
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# documents-only queries (no lineitem/events/embeddings dependency)
QUERIES = [
    "text_profile", "text_quality_gopher", "text_repetition_gopher",
    "text_rolling_hash", "text_repetition", "text_redact", "text_chunk",
    "text_tfidf", "text_top_ngrams", "tokenizer_bpe_pairs",
    "text_dup_spans", "text_span_trim", "text_lm_score",
    "text_classify_nb", "sample_dsir", "sample_quality_prune",
    "contamination_spans", "corpus_report", "corpus_pivot",
    "corpus_rollup", "stats_histogram", "dedup_exact", "dedup_paragraph",
    "corpus_diff", "sample_split", "sample_shuffle", "dedup_prefix_exact", "dedup_keep_best", "layout_zorder_source",
    "stats_drift", "stats_heavy_hitters", "stats_quantiles_sketch",
    "stats_outliers", "tokenizer_coverage", "pipeline_monitor", "text_pii_inventory", "stats_zipf", "corpus_lang_confusion",
    "pipeline_quality", "pipeline_datacard", "text_bm25_topk",
    "text_bm25_index_probe", "tokenizer_bpe_train", "text_bm25_prf", "text_bm25_percolate",
    "text_pmi_collocations", "tokenizer_bpe_encode", "tokenizer_bpe_fast", "mm_dhash_pairs", "mm_bmp_decode", "mm_png_decode", "mm_mulaw_decode", "mm_gif_decode", "mm_avi_frames",
    # r12 crawl family: the docs are escaped into HTML scaffolding and
    # round-tripped through the tokenizer/entity decoder (and, for
    # pipeline_crawl, through WARC+HTTP containers on disk) — the
    # HTML-ish PIECES below (tags, entities, stray <, &#refs) land in
    # the escaped text and must survive byte-exactly
    "text_html_blocks", "pipeline_crawl", "url_normalize",
    "url_domain_stats", "text_html_links", "mm_mp4_info",
    "url_robots_filter", "pipeline_frontier", "url_sitemap_parse",
    "text_html_meta", "url_idn_normalize", "text_html_charset",
    "crawl_schedule", "text_html_extract_eval",
    # r13 frontier/revisit/PSL/FLAC family (formula fixtures; the
    # frontier and revisit pipelines exercise stored indexes and real
    # WARC containers on disk under every seed)
    "url_psl_full", "pipeline_frontier_incremental", "frontier_recrawl",
    "frontier_redirects", "crawl_revisits", "crawl_schedule_capped",
    "mm_flac_decode", "pipeline_crawl_loop", "crawl_schedule_robots",
    "pipeline_wet", "crawl_pagerank",
    # r14 CDX family: pipeline_cdx/pipeline_cdx_fetch escape every
    # adversarial doc into HTML, write real WARC+CDXJ containers, and
    # replay keys/timestamps/entity byte-lengths — the sidecar and the
    # ranged-read loop must survive any text; the others are formula
    # fixtures re-checked under every seed
    "cdx_surt", "pipeline_cdx", "cdx_lookup", "cdx_columnar",
    "pipeline_cdx_fetch", "cdx_change_rate", "cdx_merge_stats",
    "pipeline_wat", "crawl_revisits_cdx", "pipeline_recrawl_adaptive",
    "cdx_classic_ingest", "cdx_asof_lookup",
    # r15 LSM/wayback family: pipeline_wayback escapes every adversarial
    # doc into TWO crawls of HTML (revisit-marked), resolves as-of, and
    # replays entity byte-lengths through the revisit indirection — the
    # digest marking, sidecar, and double ranged-read loop must survive
    # any text; the two lookups are formula fixtures over the
    # generational master re-checked under every seed
    "pipeline_wayback", "cdx_compact_lookup", "cdx_digest_lookup",
    # archive compaction: byte-concatenated members + arithmetically
    # rewritten pointers must serve every adversarial doc unchanged
    # (r16: the flow now refreshes a generational master in-pass)
    "pipeline_archive_compact", "cdx_batch_lookup",
    # r16 redirects/stream family: pipeline_wayback_redirects escapes
    # every adversarial doc into a terminal page behind planted 3xx
    # chains and replays hop counts + served byte lengths through the
    # redirect graph; the stream-index query is a formula fixture over
    # the epoch-tagged masters re-checked under every seed
    "pipeline_wayback_redirects", "pipeline_crawl_stream_index",
    "cdx_nearest_lookup", "cdx_digest_batch",
    # r17 TimeGate/TimeMap/metrics family: formula fixtures over the
    # generational master — the engine-composed prune-then-resolve
    # path (incl. its δ-feedback second wave), the paged per-URI
    # timeline, and the self-maintaining sink's metrics ledger
    # re-checked under every seed
    "cdx_nearest_at", "cdx_timemap", "cdx_epoch_metrics",
    "cdx_resume_page", "cdx_lookup_timebound", "cdx_collapse",
    "cdx_latest", "cdx_domain_timebound",
    # simhash fingerprints: NULL-text docs must pair with nobody on
    # either side (program and oracle)
    "dedup_simhash", "dedup_simhash_incremental",
]

# events-only queries: gated when the adversarial events table is
# generated alongside documents (tied timestamps, null ts, lone users,
# negative/extreme values, funnel steps out of order)
EVENT_QUERIES = [
    "o13_session_windows", "k8_scd2_history", "q8_overlap_join",
    "q10_funnel", "q11_cohorts", "q12_gapfill", "q14_moving_avg",
    "o5_mts_schedule", "q9_json_props", "stats_trend", "pipeline_events",
    "layout_compaction_plan", "stats_active_users", "q16_attribution",
]

# relational q-family gated on adversarial TPC-H-ish tables (negative
# and extreme prices, zero quantities, NULL-able measures, duplicate
# and orphan foreign keys, decile/window tie storms)
REL_QUERIES = [
    "q1_agg", "q3_window_topn", "q7_salted_join", "q13_deciles", "q4_setops",
    "layout_zorder", "layout_zorder_rank", "layout_zorder3", "q15_above_avg", "s8_ddl_convert",
]

# embeddings-family queries gated on the adversarial vector table
# (zero vectors, denormals, huge magnitudes, exact duplicates)
EMB_QUERIES = [
    "emb_l2norm", "emb_quantize", "emb_cosine_pairs", "sim_topk",
    "emb_quantize_trained", "sim_topk_quantized", "emb_classify_centroid",
    "sim_pq_topk", "sim_pq_topk_refined", "sim_hybrid_rrf", "sim_mmr_topk", "sim_ivf_pq_topk", "sim_ivfpq_index_probe", "sim_kmeans_clusters", "pipeline_rag",
    # r9: oracles carry the zero-norm CASE guard matching cosineNative's
    # cosine(0,.)=0, so the adversarial zero/denormal vectors are fair game
    "sim_knn_graph", "sim_recall_eval",
]

PIECES = [
    "the", "cat", "and", "of", "to", "have", "with", "that", "be",
    "大家", "好", "世界", "eé", "Ångström", "naïve", "😀", "🚀x",
    "- item", "* pt", "• dot", "wait...", "…", "#tag", "a#b", "x....y",
    "12", "3.14", "x7", "MiXeD", "NAME", "ab", "tab\tsep",
    "(meta)", "[re]", "{x}", "a|b", "c^d", "e$f", "g\\h", "'q'", '"qq"',
    "https://ex.io/p?q=1", "bob@ex.io", "555-0134",
    # HTML-shaped fragments: escaped into the crawl scaffold, these
    # exercise entity round-trips, stray angle brackets, nested anchors
    "<b>bold</b>", "&amp;", "a<b", "x&y", "&#65;", "&eacute;",
    "<!--c-->", "</p>", '<a href="/x">deep</a>', "&#xD800;", "&nope;",
]
SEPS = [" ", " ", " ", "  ", "\n", "\t", "", " \n "]


def gen_docs(seed: int, n: int = 400) -> pd.DataFrame:
    rnd = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        kind = rnd.random()
        if kind < 0.03:
            text = ""
        elif kind < 0.06:
            text = rnd.choice([" ", "   ", "\t", "\n\n", ""])
        elif kind < 0.16:
            # boilerplate repeats: span/paragraph dedup fodder
            block = " ".join(rnd.choice(PIECES[:12]) for _ in range(12))
            text = (block + " ") * rnd.randint(2, 5) + " ".join(
                rnd.choice(PIECES) for _ in range(rnd.randint(0, 8)))
        else:
            k = rnd.randint(1, 120)
            text = rnd.choice(SEPS).join(rnd.choice(PIECES) for _ in range(k))
        rows.append({
            "doc_id": i,
            "text": None if kind > 0.985 else text,
            "lang": rnd.choice(["en", "de", "fr", "es", "zh"]),
            "source": f"src{rnd.randint(0, 3)}",
            "n_chars": 0 if text is None else len(text),
        })
    return pd.DataFrame(rows)


def gen_events(seed: int, n: int = 600) -> pd.DataFrame:
    """Adversarial change stream: tied timestamps, null ts, lone-event
    users, out-of-order funnel steps, negative/zero/extreme values —
    the shapes the driver's uniform fixture never produces.
    """
    rnd = random.Random(seed * 7 + 1)
    base = pd.Timestamp("2024-01-01")
    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    for i in range(1, n + 1):
        kind = rnd.random()
        user = rnd.randint(1, 40)
        if kind < 0.05:
            ts = None                                   # null event time
        elif kind < 0.25:
            # tied timestamps: several events share one exact second
            ts = base + pd.Timedelta(seconds=rnd.randint(0, 20) * 3600)
        else:
            ts = base + pd.Timedelta(seconds=rnd.randint(0, 29 * 86400))
        value = rnd.choice([0.0, -5.25, 1e9, 0.125, rnd.random() * 100])
        rows.append({
            "event_id": i,
            "ts": ts,
            "user_id": user,
            "event_type": rnd.choice(types),
            "value": value,
            "props": rnd.choice(['{"k": 1}', '{"k": null}', '{"other": 2}',
                                 "not json", '{"k": -7}']),
        })
    # a few lone users: exactly one event ever (funnel/session edges)
    for j in range(3):
        rows.append({"event_id": n + 1 + j, "ts": base, "user_id": 1000 + j,
                     "event_type": "purchase", "value": 1.0, "props": "{}"})
    df = pd.DataFrame(rows)
    df["ts"] = pd.to_datetime(df["ts"])
    return df


def gen_embeddings(seed: int, n: int = 200, dim: int = 64) -> pd.DataFrame:
    """Adversarial vectors: the zero vector, denormal-tiny and huge
    magnitudes, negatives, exact duplicates, and near-duplicates —
    the norm/rounding edges a uniform fixture never reaches.
    """
    import numpy as np
    rnd = np.random.RandomState(seed * 13 + 5)
    rows = []
    for i in range(n):
        kind = i % 10
        if kind == 0:
            v = np.zeros(dim, dtype=np.float32)
        elif kind == 1:
            v = np.full(dim, 1e-30, dtype=np.float32)      # denormal-ish
        elif kind == 2:
            # large but inside the integer-micros domain the centroid/
            # IVF arithmetic documents (floor(x*1e6) must fit BIGINT)
            v = rnd.randn(dim).astype(np.float32) * 1e3
        elif kind == 3 and rows:
            v = np.array(rows[-1]["embedding"], dtype=np.float32)  # exact dup
        else:
            v = rnd.randn(dim).astype(np.float32)
        rows.append({"vec_id": i, "embedding": [float(x) for x in v],
                     "label": int(i % 4)})
    df = pd.DataFrame(rows)
    return df


def gen_relational(seed: int):
    """Adversarial star-schema slices: hot keys (one partkey carries a
    third of lineitem), negative/zero/huge prices, discount at the 0
    and 1 boundaries, tie storms for the window/decile queries, orphan
    foreign keys, and shared nation keys for the set ops.
    """
    rnd = random.Random(seed * 19 + 3)
    base = pd.Timestamp("2024-01-01")
    li = []
    for i in range(1, 800):
        hot = rnd.random() < 0.33
        li.append({
            "l_orderkey": i % 200 + 1, "l_partkey": 1 if hot else rnd.randint(1, 60),
            "l_suppkey": rnd.randint(1, 20), "l_linenumber": i % 7,
            "l_quantity": rnd.choice([0.0, 1.0, 50.0, 0.5]),
            "l_extendedprice": rnd.choice([0.0, -10.5, 1e7, 123.456, rnd.random() * 1000]),
            "l_discount": rnd.choice([0.0, 1.0, 0.05, 0.10]),
            "l_tax": 0.07,
            "l_returnflag": rnd.choice(["A", "N", "R"]),
            "l_linestatus": rnd.choice(["O", "F"]),
            "l_shipdate": base + pd.Timedelta(days=rnd.randint(0, 60)),
        })
    orders = [{
        "o_orderkey": i, "o_custkey": rnd.randint(1, 50),
        "o_orderstatus": rnd.choice(["O", "F", "P"]),
        # tie storm: many orders share one exact price (window tiebreaks)
        "o_totalprice": rnd.choice([1000.0, 1000.0, -1.25, 0.0, rnd.random() * 5e5]),
        "o_orderdate": base + pd.Timedelta(days=rnd.randint(0, 60)),
        "o_orderpriority": rnd.choice(["1-URGENT", "5-LOW"]),
    } for i in range(1, 300)]
    cust = [{
        "c_custkey": i, "c_name": f"Customer#{i}",
        "c_nationkey": i % 7, "c_acctbal": rnd.random() * 1000 - 500,
        "c_mktsegment": rnd.choice(["BUILDING", "AUTOMOBILE"]),
    } for i in range(1, 61)]  # custkeys 51+ in orders become orphans
    part = [{
        "p_partkey": i, "p_name": f"part {i} " + rnd.choice(["azure", "rose"]),
        "p_brand": f"Brand#{i % 5}", "p_type": "STANDARD",
        "p_size": i % 50, "p_retailprice": 100.0 + i,
    } for i in range(1, 61)]
    supp = [{
        "s_suppkey": i, "s_name": f"Supplier#{i}",
        "s_nationkey": (i * 3) % 11, "s_acctbal": rnd.random() * 100,
    } for i in range(1, 21)]
    out = {}
    for name, rows in [("lineitem", li), ("orders", orders),
                       ("customer", cust), ("part", part), ("supplier", supp)]:
        df = pd.DataFrame(rows)
        for c in df.columns:
            if str(df[c].dtype) == "int64" and c in ("l_linenumber", "c_nationkey",
                                                     "s_nationkey", "p_size"):
                df[c] = df[c].astype("int32")
        out[name] = df
    return out


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 42
    root = f"/tmp/graft-fuzz/{seed}"
    sf_dir, out_dir = f"{root}/sf", f"{root}/out"
    os.makedirs(sf_dir, exist_ok=True)
    docs = gen_docs(seed)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   f"{sf_dir}/documents.parquet")
    events = gen_events(seed)
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   f"{sf_dir}/events.parquet")
    emb = gen_embeddings(seed)
    emb_schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    pq.write_table(pa.Table.from_pandas(emb, preserve_index=False,
                                        schema=emb_schema),
                   f"{sf_dir}/embeddings.parquet")

    for name, df in gen_relational(seed).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{sf_dir}/{name}.parquet")

    all_queries = QUERIES + EVENT_QUERIES + EMB_QUERIES + REL_QUERIES
    r = subprocess.run(
        ["sbt", "--error",
         f"runMain graft.Verify {sf_dir} {out_dir} " + " ".join(all_queries)],
        cwd="/root/repo", capture_output=True, text=True, timeout=1200)
    if not os.path.exists(f"{out_dir}/oracle_sql.json"):
        print(r.stdout[-3000:], r.stderr[-3000:])
        print("FUZZ: Verify produced no oracle_sql.json")
        return 2

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    for t in ("lineitem", "orders", "customer", "part", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    for name in all_queries:
        qdir = os.path.join(out_dir, name)
        if os.path.exists(os.path.join(qdir, "_ERROR")):
            failures.append((name, "spark: " +
                             open(os.path.join(qdir, "_ERROR")).read()[:160]))
            continue
        import glob
        files = glob.glob(f"{qdir}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files \
            else pd.DataFrame()
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"oracle: {e}"[:160]))
            continue

        def canon(df):
            df = df.reindex(sorted(df.columns), axis=1)
            return df.sort_values(by=list(df.columns), ignore_index=True)

        g, e = canon(got.copy()), canon(exp.copy())
        if list(g.columns) != list(e.columns):
            failures.append((name, f"schema {list(g.columns)} != {list(e.columns)}"))
            continue
        if len(g) != len(e):
            failures.append((name, f"rows {len(g)} != {len(e)}"))
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name} (rows={len(g)})")
        except AssertionError as ex:
            failures.append((name, str(ex).splitlines()[-1][:200]))
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    print(f"{len(all_queries) - len(failures)}/{len(all_queries)} pass (seed={seed})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

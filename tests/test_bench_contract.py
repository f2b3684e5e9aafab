"""Driver-contract tests for bench.py's stdout protocol.

The driver records only the last ~2000 chars of stdout; round 6's
single JSON line outgrew the window and the round's bench signal came
back unparseable (BENCH_r06 parsed:null). These tests pin the compact
headline line — required keys always present, total size under budget
with EVERY optional key populated — without spinning up Spark.
"""

import json

import bench


def _full_record():
    """A realistic worst-case full record: every headline query, every
    optional key present, values at realistic magnitudes."""
    queries = {name: 123.456 for name in bench.HEADLINE}
    rec = {
        "metric": "headline_queries_plus_encode_wall",
        "value": 1234.567,
        "unit": "sec",
        "queries": queries,
        "sf": "0.1",
        "cpus": 32,
        "bloom_str_chunks_surviving": 3,
        "bloom_str_chunks_total": 60,
        "bloom_int_chunks_surviving": 3,
        "bloom_int_chunks_total": 295,
        "codec_mix": {f"col{i}:fsst": 123456789 for i in range(12)},
        "encode_rows": 120000,
        "content_bytes": 369485889,
        "raw_bytes": 378718202,
        "encoded_bytes": 36952458,
        "parquet_none_bytes": 374198290,
        "parquet_snappy_bytes": 56466088,
        "parquet_zstd_bytes": 23456789,
    }
    for k in bench._HEADLINE_OPTIONAL:
        rec.setdefault(k, 12345.6789)
    return rec


def test_headline_fits_driver_window():
    line = bench._headline(_full_record())
    assert len(line) <= bench._HEADLINE_BUDGET
    parsed = json.loads(line)
    for k in bench._HEADLINE_REQUIRED:
        assert k in parsed, k
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    # the gate/continuity keys the round-6 judge asked for must survive
    # the budget with realistic values (ratio, scaling, exec8 series)
    for k in (
        "ratio_vs_parquet_none",
        "ratio_vs_parquet_zstd",
        "exec8_encode_mbps_content_per_cpu",
        "scaling_encode_wall_med",
        "scaling_decode_wall_med",
    ):
        assert k in parsed, k


def test_headline_drops_tail_keys_when_over_budget():
    rec = _full_record()
    # inflate one LOW-priority key so the budget bites before the tail
    rec["decode_mbps_raw_per_cpu"] = "x" * 2000
    line = bench._headline(rec)
    assert len(line) <= bench._HEADLINE_BUDGET
    parsed = json.loads(line)
    assert "decode_mbps_raw_per_cpu" not in parsed
    assert "ratio_vs_parquet_none" in parsed  # high-priority keys kept


def test_headline_keeps_packing_past_a_dropped_key():
    """A single fat mid-priority key must not evict every key after it
    (r7 verdict nit: `break` on first overflow starved the tail)."""
    rec = _full_record()
    # inflate a HIGH-priority key: everything after it must still pack
    rec["encoded_bytes"] = "x" * 2000
    line = bench._headline(rec)
    assert len(line) <= bench._HEADLINE_BUDGET
    parsed = json.loads(line)
    assert "encoded_bytes" not in parsed  # the fat key itself dropped
    # keys AFTER the dropped one in priority order still appear
    for k in (
        "ratio_vs_parquet_zstd",
        "exec8_encode_mbps_content_per_cpu",
        "scaling_encode_wall_med",
    ):
        assert k in parsed, k


def test_headline_required_keys_alone_over_budget_degrades_queries():
    """If the required keys alone bust the budget (a growing queries
    dict), the line must still fit: per-query detail degrades to a
    count instead of emitting an oversized line the driver's ~2000-char
    stdout window would decapitate (ADVICE r7)."""
    rec = _full_record()
    rec["queries"] = {f"query_with_a_long_name_{i:04d}": 123.456 for i in range(200)}
    line = bench._headline(rec)
    assert len(line) <= bench._HEADLINE_BUDGET
    parsed = json.loads(line)
    for k in bench._HEADLINE_REQUIRED:
        assert k in parsed, k
    assert parsed["queries"] == {"n_queries": 200}


def test_decode_scaling_section_replacement_preserves_other_sections():
    """A standard decode campaign rerun must not delete the
    projected-only evidence section that sits after it in BASELINE.md
    (r8 review finding), and vice versa."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "decode_scaling",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "decode_scaling.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    text = (
        "# head\n\n## GATE\ngate body\n"
        "\n## Decode-path scaling (same protocol)\nold decode\n"
        "\n## Projected-decode scaling at meaningful walls (r7)\nprojected body\n"
    )
    out = m._replace_section(
        text, "Decode-path scaling", "\n## Decode-path scaling NEW\nnew decode\n"
    )
    assert "old decode" not in out
    for kept in ("gate body", "projected body", "new decode"):
        assert kept in out
    out2 = m._replace_section(
        out,
        "Projected-decode scaling at meaningful walls",
        "\n## Projected-decode scaling at meaningful walls NEW\nnew proj\n",
    )
    assert "projected body" not in out2
    for kept in ("gate body", "new decode", "new proj"):
        assert kept in out2


def test_campaign_scaling_reads_latest_history():
    out = bench._campaign_scaling()
    # repo history files exist from the r6 campaigns; the keys must map
    # to the recorded gate statistics
    assert 0 < out["scaling_encode_wall_med"] <= 2
    assert 0 < out["scaling_decode_wall_med"] <= 2
    assert isinstance(out["scaling_output_byte_identical"], bool)


def _perfbench_colcrush_uses():
    """(module, name) for every colcrush name perfbench/layers.py and
    perfbench/workloads.py import, plus every ``Q.<attr>`` read off the
    ``colcrush.queries`` module they import as ``Q``."""
    import ast
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    uses = set()
    for name in ("layers.py", "workloads.py"):
        with open(os.path.join(root, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("colcrush"):
                for alias in node.names:
                    uses.add((node.module, alias.name))
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "Q"
            ):
                uses.add(("colcrush.queries", node.attr))
    return uses


def test_perfbench_engine_surface_exists():
    """The benchmark harness under perfbench/ is frozen and not run by
    this suite; removing an engine name or keyword it uses would break
    its traced runs unseen. Resolve every colcrush name it imports and
    bind the exact calls it makes, without starting Spark."""
    import importlib
    import inspect

    uses = _perfbench_colcrush_uses()
    assert ("colcrush.engine", "ensure_file_map") in uses
    for module, name in sorted(uses):
        m = importlib.import_module(module)
        if not hasattr(m, name):
            # ``from colcrush import queries`` imports a submodule
            importlib.import_module(f"{module}.{name}")

    from colcrush import engine as E

    spark, df, ds, cols = object(), object(), "/ds", ["repo", "lang"]
    calls = [
        # perfbench/layers.py
        (E.plan_salts, (df, cols, 16 << 20), {"with_total": True}),
        (E.encode_table, (df,), {"group_cols": cols}),
        (E.write_encoded, (df, ds), {"group_cols": cols, "file_map": False}),
        (E.ensure_file_map, (spark, ds), {}),
        (E.read_chunks, (spark, ds), {}),
        (E.read_decoded, (spark, ds), {}),
        (E.read_decoded, (spark, ds), {"colocated": True}),
        (E.pruned_chunk_count, (spark, ds, [("path", "==", "k")]), {}),
        (E.scan, (spark, ds), {"filters": [("path", "==", "k")]}),
        (E.read_manifest, (spark, ds), {}),
        # perfbench/workloads.py
        (E.read_decoded, (spark, ds), {"columns": ["path", "lang"]}),
    ]
    for fn, args, kwargs in calls:
        inspect.signature(fn).bind(*args, **kwargs)
    # write_encoded forwards unknown keywords to encode_table, so bind
    # alone would accept a removed file_map; it must be a named option
    assert "file_map" in inspect.signature(E.write_encoded).parameters

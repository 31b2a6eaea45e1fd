import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks

ROWS = [
    # doc_id, tokens, source, tenant, op
    ("doc-1", [1, 2, 3], "src-0", "tenant-1", "op-1"),
    ("doc-2", [4], "src-1", "tenant-2", "op-2"),
    ("doc-3", [5, 6], "src-5", "tenant-3", "op-3"),
    ("doc-4", [7, 8], "src-3", "", "op-1"),            # missing tenant: dropped
    ("doc-5", [9], "src-4", "tenant-1", "healthcheck"),  # drop rule: dropped
    ("doc-6", [10, 11, 12], "src-3", "tenant-4", "op-4"),
]


def _line(tenant, op):
    return f"ts=1 tenant={tenant} op={op} status=200 url=/api/v1/{op}?q=1&lang=en bypass=false"


def _write(tmp_path, drop_doc=None, bump_token_of=None):
    inp = tmp_path / "input"
    inp.mkdir()
    pq.write_table(pa.table({
        "doc_id": [r[0] for r in ROWS],
        "tokens": [r[1] for r in ROWS],
        "n_tok": [len(r[1]) for r in ROWS],
        "source": [r[2] for r in ROWS],
        "source_line": [_line(r[3], r[4]) for r in ROWS],
    }), inp / "part-0.parquet")
    out = tmp_path / "out"
    routed = {}
    for doc, toks, src, tenant, op in ROWS:
        if not tenant or op == "healthcheck" or doc == drop_doc:
            continue
        sink = f"sink-{int(src[4:]) % 3}"
        toks = [t + 1 for t in toks] if doc == bump_token_of else toks
        routed.setdefault(sink, []).append((doc, toks))
    metrics = {"sink": [], "num_rows": [], "sum_tokens": []}
    for sink, rows in routed.items():
        d = out / "routed" / f"sink={sink}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows], "tokens": [r[1] for r in rows],
                                 "n_tok": [len(r[1]) for r in rows]}), d / "part-0.parquet")
        metrics["sink"].append(sink)
        metrics["num_rows"].append(len(rows))
        metrics["sum_tokens"].append(sum(len(r[1]) for r in rows))
    (out / "metrics").mkdir()
    pq.write_table(pa.table(metrics), out / "metrics" / "part-0.parquet")
    con = checks.connect()
    checks.load_expected(con, str(inp / "*.parquet"))
    return con, str(out)


def test_correct_output_passes(tmp_path):
    con, out = _write(tmp_path)
    counts, problems = checks.check_routed(con, out)
    assert problems == []
    assert counts["expected"] == counts["routed"] == 4


def test_one_changed_token_is_rejected(tmp_path):
    con, out = _write(tmp_path, bump_token_of="doc-3")
    counts, problems = checks.check_routed(con, out)
    assert counts["mismatched"] == 1 and problems


def test_one_removed_row_is_rejected(tmp_path):
    con, out = _write(tmp_path, drop_doc="doc-6")
    counts, problems = checks.check_routed(con, out)
    assert counts["missing"] == 1
    assert "missing=1" in problems


def test_input_shares(tmp_path):
    con, _ = _write(tmp_path)
    shares = checks.input_shares(con, str(tmp_path / "input" / "*.parquet"))
    assert shares["rows"] == 6
    assert shares["missing_tenant_share"] == pytest.approx(1 / 6)
    assert shares["drop_share"] == pytest.approx(1 / 6)
    assert shares["hot_sink_share"] == pytest.approx(2 / 4)

"""Round-7: the multimodal keys' fixture-derived SQL oracles (r06 verdict
item 1 — the last rows-only keys gain full hash checks).

Three layers of evidence, so the committed golden fixtures can never encode
a bug as "expected":

1. **Freshness** — a pure-Python replay of the kernels over the CURRENT
   testdata parquet must reproduce the committed fixture rows exactly
   (catches testdata regeneration and kernel drift before the gate does).
2. **Gate parity** — the registered queries hash-match their oracles
   through ``testing.check_query`` at the test sf_dir
   (``tests/test_parity.py::test_parity[q_multimodal*]``).
3. **Independence** — DuckDB recomputes the luma signatures byte-by-byte
   from the documents table alone (hex-extracted pixel bytes, ITU-R 601
   luma, column-bucket means) and must agree with the fixture's fixed-point
   feat strings within float32 quantization tolerance. This is the check
   that does NOT share a single line of code with the engine.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
FIXTURES = REPO / "fixtures"

def _regen_module():
    spec = importlib.util.spec_from_file_location(
        "regen_multimodal_expected",
        REPO / "scripts" / "regen_multimodal_expected.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _committed(name: str) -> list[dict]:
    with open(FIXTURES / name) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_committed_fixtures_fresh_for_current_testdata(sf_dir):
    """Pure-Python kernel replay over the live parquet == the committed
    fixture rows for this sf_dir (subset-match by content key: the fixture
    is the union over all three scales)."""
    mod = _regen_module()
    feats, resizes, frames, audios = mod.pure_python_expected(sf_dir)

    by_key = lambda rows, extra=(): {
        tuple(r[k] for k in ("doc_id", "text_md5", *extra)): r for r in rows
    }
    stale = []
    for name, replayed, extra in (
        ("multimodal_expected_features.ndjson", feats, ()),
        ("multimodal_expected_resize.ndjson", resizes, ()),
        ("multimodal_expected_frames.ndjson", frames, ("frame_idx",)),
        ("multimodal_expected_audio.ndjson", audios, ()),
    ):
        committed = by_key(_committed(name), extra)
        for key, row in by_key(replayed, extra).items():
            if committed.get(key) != row:
                stale.append((name, key))
    assert not stale, (
        f"{len(stale)} fixture rows stale vs current testdata "
        f"(run scripts/regen_multimodal_expected.py): {stale[:5]}"
    )


def test_oracle_joins_guard_against_stale_fixture(duck, sf_dir):
    """The oracle's JOIN must DROP rows (→ loud row-count red) when the
    fixture no longer matches the documents table, rather than pass stale
    expectations through. Simulate drift by pointing the same join at a
    tampered in-memory copy of the fixture."""
    from etl_asana_spark import catalog

    catalog.load_all()
    sql = catalog._ORACLES["q_multimodal"]
    n_docs = duck.execute(
        "SELECT count(*) FROM documents WHERE text IS NOT NULL"
    ).fetchone()[0]
    n_ok = duck.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    assert n_ok == n_docs

    # Tamper: shift every fixture width by 1 — the derived-dimension join
    # must reject every row.
    tampered = sql.replace("e.width  = 4 +", "e.width + 1 = 4 +")
    assert tampered != sql
    assert duck.execute(f"SELECT count(*) FROM ({tampered})").fetchone()[0] == 0


@pytest.fixture(scope="module")
def luma_recompute_sql() -> str:
    """DuckDB-only byte-math replay of the decode→luma pipeline: pixel
    bytes are the UTF-8 text bytes tiled over a w×h×3 RGB grid; bytes are
    extracted from hex(encode(text)); luma = ITU-R 601; feat[b] = mean over
    column-bucket b (empty buckets → 0.0, e.g. w=4 leaves odd buckets
    empty). Produces one fixed-point '|'-joined string per doc, the same
    boundary form as the engine."""
    return """
    WITH base AS (
        SELECT doc_id,
               hex(encode(text)) AS hx,
               greatest(octet_length(encode(text)), 1) AS L,
               4 + (greatest(octet_length(encode(text)), 1) % 13) AS w,
               3 + (greatest(octet_length(encode(text)), 1) % 7) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    px AS (
        SELECT doc_id, w, CAST(t.p AS BIGINT) % w AS x,
               3 * CAST(t.p AS BIGINT) AS o, hx, L
        FROM base, LATERAL unnest(range(w * h)) AS t(p)
    ),
    lum AS (
        SELECT doc_id, w, least(x * 8 // w, 7) AS b,
               (299 * CAST('0x' || substr(hx, 2 * ((o + 0) % L) + 1, 2) AS INT)
              + 587 * CAST('0x' || substr(hx, 2 * ((o + 1) % L) + 1, 2) AS INT)
              + 114 * CAST('0x' || substr(hx, 2 * ((o + 2) % L) + 1, 2) AS INT)
               ) / 1000.0 AS lum
        FROM px
    ),
    grid AS (
        SELECT doc_id, CAST(t.b AS BIGINT) AS b
        FROM base, LATERAL unnest(range(8)) AS t(b)
    ),
    feats AS (
        SELECT g.doc_id, g.b,
               coalesce(avg(l.lum) / 255.0, 0.0) AS f
        FROM grid g LEFT JOIN lum l ON g.doc_id = l.doc_id AND g.b = l.b
        GROUP BY g.doc_id, g.b
    )
    SELECT doc_id,
           list(CAST(floor(f * 1000000 + 0.5) AS BIGINT) ORDER BY b) AS fp
    FROM feats GROUP BY doc_id
    """


def test_duckdb_byte_math_agrees_with_fixture_feats(duck, luma_recompute_sql):
    """The independent recompute: DuckDB-derived fixed-point luma buckets
    vs the committed feat strings, within ±2 fixed-point units (float32
    quantization at the engine boundary + summation-order drift; typical
    agreement is exact)."""
    recomputed = {
        int(doc_id): list(fp)
        for doc_id, fp in duck.execute(luma_recompute_sql).fetchall()
    }
    committed = duck.execute(
        "SELECT d.doc_id, e.feat "
        "FROM documents d JOIN read_json("
        f"'{FIXTURES / 'multimodal_expected_features.ndjson'}', "
        "format='newline_delimited', columns={'doc_id': 'BIGINT', "
        "'feat': 'VARCHAR', 'text_md5': 'VARCHAR'}) e "
        "ON e.doc_id = d.doc_id AND e.text_md5 = md5(d.text) "
        "WHERE d.text IS NOT NULL"
    ).fetchall()
    assert len(committed) == len(recomputed)
    worst = 0
    for doc_id, feat in committed:
        want = [int(v) for v in feat.split("|")]
        got = recomputed[int(doc_id)]
        assert len(want) == len(got) == 8, doc_id
        for a, b in zip(want, got):
            worst = max(worst, abs(a - b))
            assert abs(a - b) <= 2, (doc_id, want, got)
    # the two derivations should be essentially identical, not "close"
    assert worst <= 2


def test_kernels_match_pure_python_on_hostile_unicode_corpus(spark, tmp_path):
    """The committed fixtures cover the (ASCII-ish) driver testdata; this
    pins the SAME dual-implementation agreement on a hostile corpus —
    emoji/CJK/RTL/NUL/zero-width/multi-byte boundaries and the empty
    string (the ``raw or b'\\x00'`` branch no real doc exercises) — so a
    future testdata regen with unicode text cannot surface a first-ever
    divergence between the Spark pipeline and the replay at the gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_asana_spark import catalog, registry

    texts = [
        "",                       # empty → 1-byte NUL payload branch
        "\x00\x00",               # embedded NULs
        "héllo wörld",            # 2-byte UTF-8
        "日本語のテキストです",      # 3-byte CJK
        "🦙🦙🦙 emoji 🧪",          # 4-byte non-BMP
        "مرحبا بالعالم",           # RTL
        "tab\there\nand​zero-width",
        "x" * 1000,               # long ASCII (many pixel tiles)
        "🦙" + "y" * 97,           # multi-byte at a tile boundary
    ]
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }),
        f"{sf_dir}/documents.parquet",
    )
    # the registry loads all ten tables; point the rest at the real sf dir
    import shutil

    from tests.conftest import SF_DIR

    for name in registry.TABLE_NAMES:
        if name != "documents":
            shutil.copy(f"{SF_DIR}/{name}.parquet", f"{sf_dir}/{name}.parquet")

    mod = _regen_module()
    feats, resizes, frames, audios = [], [], [], []
    for doc_id, text in enumerate(texts):
        f, r, fr = mod.expected_rows(doc_id, text)
        feats.append(f)
        resizes.append(r)
        frames.extend(fr)
        audios.append(mod.expected_audio_row(doc_id, text))

    spark_cross = mod.cross_check  # raises SystemExit on any disagreement
    spark_cross(spark, sf_dir, feats, resizes, frames, audios)


# ---------------------------------------------------------------------------
# Audio tier (r07): the same three evidence layers for q_multimodal_audio.
# Freshness rides the shared test above (the audio fixture is in its loop)
# and gate parity rides test_parity; below are the audio-specific independence
# and stale-guard checks.
# ---------------------------------------------------------------------------


def test_duckdb_byte_math_agrees_with_audio_fixture(duck):
    """Independent recompute, zero shared code: DuckDB re-synthesizes every
    document's PCM16 waveform from the text bytes alone (hex-extracted,
    cycled to n_samples, mixed by the same pure per-byte map) and
    re-derives energy / zero_crossings / peak. Integer features mean the
    agreement must be EXACT — no tolerance."""
    recompute = """
    WITH base AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS L,
               128 + (greatest(octet_length(encode(text)), 1) % 241) AS n
        FROM documents WHERE text IS NOT NULL
    ),
    s AS (
        SELECT doc_id,
               CAST(t.i AS BIGINT) AS i,
               ((CASE WHEN L = 0 THEN 0
                      ELSE CAST('0x' || substr(hx, 2 * (CAST(t.i AS BIGINT) % L) + 1, 2) AS INT)
                 END) * 997) % 65536 - 32768 AS v
        FROM base, LATERAL unnest(range(n)) AS t(i)
    ),
    sig AS (
        SELECT doc_id,
               sum(v * v) AS energy,
               sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) != (v < 0))
                        THEN 1 ELSE 0 END) AS zc,
               max(abs(v)) AS peak
        FROM (SELECT doc_id, i, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
              FROM s)
        GROUP BY doc_id
    )
    SELECT doc_id, energy, zc, peak FROM sig
    """
    recomputed = {
        int(d): (int(e), int(z), int(p))
        for d, e, z, p in duck.execute(recompute).fetchall()
    }
    committed = duck.execute(
        "SELECT d.doc_id, e.energy, e.zero_crossings, e.peak "
        "FROM documents d JOIN read_json("
        f"'{FIXTURES / 'multimodal_expected_audio.ndjson'}', "
        "format='newline_delimited', columns={'doc_id': 'BIGINT', "
        "'energy': 'BIGINT', 'zero_crossings': 'INTEGER', "
        "'peak': 'INTEGER', 'text_md5': 'VARCHAR'}) e "
        "ON e.doc_id = d.doc_id AND e.text_md5 = md5(d.text) "
        "WHERE d.text IS NOT NULL"
    ).fetchall()
    assert len(committed) == len(recomputed) > 0
    for doc_id, energy, zc, peak in committed:
        assert recomputed[int(doc_id)] == (int(energy), int(zc), int(peak)), (
            doc_id, recomputed[int(doc_id)], (energy, zc, peak),
        )


def test_audio_oracle_join_guards_against_stale_fixture(duck):
    """Tampering any re-derived synthesis parameter must drop EVERY row
    (loud row-count red), never pass stale expectations through."""
    from etl_asana_spark import catalog

    catalog.load_all()
    sql = catalog._ORACLES["q_multimodal_audio"]
    n_docs = duck.execute(
        "SELECT count(*) FROM documents WHERE text IS NOT NULL"
    ).fetchone()[0]
    assert duck.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] == n_docs

    for tamper in (
        ("e.n_samples = 128 +", "e.n_samples + 1 = 128 +"),
        ("e.duration_ms = (e.n_samples * 1000)", "e.duration_ms + 1 = (e.n_samples * 1000)"),
    ):
        tampered = sql.replace(*tamper)
        assert tampered != sql, tamper
        assert duck.execute(
            f"SELECT count(*) FROM ({tampered})"
        ).fetchone()[0] == 0, tamper

"""Seeded input generators. The program sees only the parquet files
written here; everything is a pure function of the seed and the size.

- PLACE notice batches with the Spanish headers of
  ``fixtures/column_mapping.tsv`` (lake_ingest_reads);
- two document listings of the store's files (lake_ingest_reads);
- ``lineitem`` and ``documents`` tables in the registry's layout
  (registry_analytics).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ID_PREFIX = "https://contrataciondelestado.es/sindicacion/licitacion/"
PLIEGO = "Pliego de cláusulas administrativas (URI)"
ENTIDAD = "Identificador (Entidad Adjudicadora)"
ENTIDAD_UNICO = "Identificador único"
# every raw header but id/updated (``_value`` draws their values)
BUSINESS = [
    "link",
    "summary",
    "title",
    "Número de Expediente",
    "Objeto del Contrato",
    "Tipo de Contrato (Datos Generales del Expediente)",
    "Identificador (Adjudicatario)",
    ENTIDAD,
    "Clasificación CPV",
    PLIEGO,
]
HEADERS = ["id", "updated", *BUSINESS]
WORDS = (
    "servicio suministro obra mantenimiento limpieza redacción proyecto "
    "instalación equipos sanitario municipal carretera alumbrado edificio "
    "vigilancia transporte escolar software licencias gestión integral "
    "reforma consultoría energía seguro material oficina hospital"
).split()
TIPOS = ["Obras", "Servicios", "Suministros", "Concesión de Servicios", "Privado"]
CPV = ["45000000", "45200000", "50000000", "72000000", "79000000", "33100000", "90910000"]
T0 = dt.datetime(2024, 1, 1)


def notice_id(n: int) -> str:
    return f"{ID_PREFIX}{n}"


def raw_ts(t: dt.datetime, rng: random.Random) -> str:
    """PLACE's ATOM form: 'T' separator, millis and a zone suffix —
    ``normalize_updated`` cuts it to 'yyyy-MM-dd HH:mm:ss'."""
    return t.strftime("%Y-%m-%dT%H:%M:%S") + f".{rng.randrange(1000):03d}+01:00"


def canon_ts(raw: str) -> str:
    return raw.replace("T", " ")[:19]


def _value(header: str, n: int, rng: random.Random) -> str:
    if header == "link":
        return f"https://contrataciondelestado.es/wps/poc?uri=deeplink:detalle_licitacion&idEvl={n:08d}"
    if header == "summary":
        return f"Id licitación: {n}; Importe: {rng.randrange(1000, 10**7)} EUR"
    if header in ("title", "Objeto del Contrato"):
        return " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 7)))
    if header == "Número de Expediente":
        return f"{rng.randint(2019, 2024)}/{n}-{rng.randrange(100)}"
    if header == "Tipo de Contrato (Datos Generales del Expediente)":
        return rng.choice(TIPOS)
    if header == "Identificador (Adjudicatario)":
        return f"B{rng.randrange(400):08d}"
    if header in (ENTIDAD, ENTIDAD_UNICO):
        return f"L{rng.randrange(60):08d}"
    if header == "Clasificación CPV":
        # PLACE dumps carry CPV lists stringified, as Python reprs
        codes = rng.sample(CPV, rng.randint(1, 3))
        return str(codes) if len(codes) > 1 or rng.random() < 0.5 else codes[0]
    if header == PLIEGO:
        host = rng.choice(["contrataciondelestado.es", "docs.place.es", "sede.example.es"])
        name = rng.choice(["pliego", "Pliego Administrativo", "PCAP%20firmado"])
        return f"https://{host}/doc/{n}/{name}.pdf"
    raise KeyError(header)


class NoticeStream:
    """A seeded stream of raw PLACE notice batches.

    Batch 0 is the base load (``n_base`` new notices). Every later data
    batch mixes new notices with ascending ids, amendments skewed to
    recent notices (some fields empty, so the stored value must stay),
    idempotent re-ingests of a row exactly as it was last sent, and
    duplicate ids within the batch (a later timestamp wins)."""

    def __init__(self, seed: int, n_base: int, batch_rows: int):
        self.rng = random.Random(seed)
        self.batch_rows = batch_rows
        self.next_n = 0
        self.clock = T0
        self.last_raw: dict[int, dict] = {}  # notice number -> last row sent
        self.base = self._rows([self._new() for _ in range(n_base)])

    def _tick(self) -> dt.datetime:
        self.clock += dt.timedelta(seconds=self.rng.randint(1, 90))
        return self.clock

    def _new(self) -> dict:
        n = self.next_n
        self.next_n += 1
        row = {"id": notice_id(n), "updated": raw_ts(self._tick(), self.rng)}
        for h in BUSINESS:
            row[h] = _value(h, n, self.rng)
        return self._sent(n, row)

    def _sent(self, n: int, row: dict) -> dict:
        self.last_raw[n] = row
        return row

    def _amend(self, n: int) -> dict:
        row = {"id": notice_id(n), "updated": raw_ts(self._tick(), self.rng)}
        for h in BUSINESS:
            r = self.rng.random()
            if r < 0.15:
                row[h] = None if r < 0.07 else ""  # empty: keep the stored value
            elif r < 0.55:
                row[h] = _value(h, n, self.rng)
            else:
                row[h] = self.last_raw[n][h]
        return self._sent(n, row)

    def _recent(self, taken: set[int]) -> int:
        """An existing notice number, exponentially skewed to the newest."""
        scale = max(1.0, self.next_n / 8)
        while True:
            n = self.next_n - 1 - int(self.rng.expovariate(1 / scale))
            if 0 <= n < self.next_n and n not in taken:
                taken.add(n)
                return n

    def next_batch(self) -> list[dict]:
        b = self.batch_rows
        taken: set[int] = set()
        rows = []
        amended = [self._recent(taken) for _ in range(b // 4)]
        reingest = [self._recent(taken) for _ in range(b // 10)]
        # an exact copy of the last row sent for the key: a no-op merge
        rows += [dict(self.last_raw[n]) for n in reingest]
        rows += [self._amend(n) for n in amended]
        fresh_start = self.next_n
        rows += [self._new() for _ in range(b - len(rows) - b // 20)]
        # duplicates within the batch: a second, later row for a key
        dup_pool = list(range(fresh_start, self.next_n)) + amended
        for n in self.rng.sample(dup_pool, min(len(dup_pool), b // 20)):
            rows.append(self._amend(n))
        self.rng.shuffle(rows)
        return self._rows(rows)

    @staticmethod
    def _rows(rows: list[dict]) -> list[dict]:
        return [{h: r.get(h) for h in HEADERS} for r in rows]


def collision_batch(n_rows: int) -> list[dict]:
    """A batch that carries both headers mapped to
    ``Entidad_Adjudicadora/ID``. Fixed content: it does not depend on
    the seed, so it behaves the same in every run."""
    rng = random.Random(0)
    rows = []
    for i in range(n_rows):
        n = 10**9 + i
        row = {"id": notice_id(n), "updated": raw_ts(T0 + dt.timedelta(days=400, seconds=i), rng)}
        for h in BUSINESS:
            row[h] = _value(h, n, rng)
        row[ENTIDAD_UNICO] = _value(ENTIDAD_UNICO, n, rng)
        rows.append(row)
    return rows


def write_rows(rows: list[dict], path: str) -> int:
    """Write raw rows as one parquet file (all columns strings, as the
    PLACE dumps are); return its size in bytes."""
    cols = list(rows[0]) if rows else HEADERS
    table = pa.table({c: pa.array([r.get(c) for r in rows], pa.string()) for c in cols})
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# document listings (storesync.plan_sync)
# ---------------------------------------------------------------------------


def listings(seed: int, ntp_ids: list[str], n_missing: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Source and destination listings of stored documents
    '{ntp_id}_{field}.pdf' with sizes. The destination lacks some files,
    holds stale copies of others and keeps files the source dropped."""
    rng = random.Random(seed * 7919 + 1)
    fields = ["pliego", "anuncio", "adjudicacion"]
    src = [(f"{i}_{f}.pdf", rng.randrange(10**4, 10**6)) for i in ntp_ids for f in fields]
    dst = []
    for name, size in src:
        r = rng.random()
        if r < 0.05:
            continue  # missing at destination -> ADD
        dst.append((name, size + 1 if r < 0.09 else size))  # stale -> UPD
    dst += [(f"ntp9{k:07d}_pliego.pdf", 1000 + k) for k in range(n_missing)]  # -> DEL
    rng.shuffle(dst)
    cols = ["file_name", "size"]
    return pd.DataFrame(src, columns=cols), pd.DataFrame(dst, columns=cols)


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "the a data table row column spark query scan join merge sort hash "
    "group window stream batch filter value key part order line customer "
    "fast slow big small agg vector index shard commit log"
).split()


def registry_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """``lineitem`` and ``documents`` at scale ``sf`` in the layout of
    the registry's synthetic tables; returns rows per table."""
    rng = random.Random(seed * 104729 + 3)
    n_li = int(6_000_000 * sf)
    n_part, n_supp = max(20, int(200_000 * sf)), max(4, int(10_000 * sf))
    ship0 = dt.datetime(1994, 1, 1)
    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    for i in range(n_li):
        li["l_orderkey"].append(i // 4)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(i % 4 + 1)
        q = rng.randint(1, 50)
        li["l_quantity"].append(float(q))
        li["l_extendedprice"].append(round(q * rng.uniform(1, 100), 2))
        li["l_discount"].append(rng.randrange(11) / 100)
        li["l_tax"].append(rng.randrange(9) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(ship0 + dt.timedelta(days=rng.randrange(2500)))
    pq.write_table(
        pa.table({**li, "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us"))}),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    n_docs = max(40, int(50_000 * sf))
    docs = []
    # a Zipf-ish vocabulary; every 10th document is a near-copy of an
    # earlier one so the dedup operators have duplicates to find
    weights = [1 / (k + 1) for k in range(len(DOC_WORDS))]
    for d in range(n_docs):
        if d >= 10 and d % 10 == 0:
            words = docs[rng.randrange(d // 2)][1].split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
        else:
            words = rng.choices(DOC_WORDS, weights, k=rng.randint(20, 80))
        text = " ".join(words)
        docs.append((d, text, rng.choice(["en", "en", "es", "zh"]), f"src{d % 7}", len(text)))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": [r[1] for r in docs],
            "lang": [r[2] for r in docs],
            "source": [r[3] for r in docs],
            "n_chars": pa.array([r[4] for r in docs], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return {"lineitem": n_li, "documents": n_docs}

"""Seeded input generators for the lakehouse benchmark.

Everything here is a pure function of the seed: the same seed gives the
same FtM entities, the same update batches and the same gate tables.
The engine only ever sees the generated inputs.

* :class:`EntityModel` produces FtM entities (``ENTITY_SCHEMA`` shape)
  and keeps a Python model of the store's expected contents — the
  distinct content-addressed statements and ``BASE_ID`` checksum rows
  — so the ``ingest`` workload can check the live statement count
  after every merge against a count the engine did not compute.
* :func:`write_gate_tables` writes the ``documents``, ``orders``,
  ``lineitem`` and ``events`` tables the analytics gates read, sized
  like the sf0.01 test tables.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

COUNTRIES = ("de", "fr", "gb", "us", "ru", "cn", "br", "in", "za", "ng",
             "mx", "es", "it", "nl", "se", "pl", "tr", "jp", "kr", "ar")
SCHEMATA = ("Person", "Company", "Organization")
_FIRST = ("Anna", "Boris", "Chen", "Dana", "Emil", "Fatima", "Goran", "Hana",
          "Ivan", "Julia", "Kofi", "Lena", "Mateo", "Nora", "Omar", "Petra")
_LAST = ("Ivanova", "Smith", "Okafor", "Schulz", "Rossi", "Kim", "Silva",
         "Novak", "Haddad", "Larsen", "Moreau", "Tanaka", "Garcia", "Popescu")
_ORG = ("Holdings", "Trading", "Logistics", "Capital", "Energy", "Mining",
        "Shipping", "Media", "Partners", "Foundation", "Group", "Services")


class EntityModel:
    """FtM entity generator plus the expected-contents model of a store
    fed only by it (one origin, no fragments, fixed schema per id)."""

    def __init__(self, seed: int, prefix: str):
        self.rng = random.Random(seed)
        self.prefix = prefix
        self.entities: dict[str, dict] = {}  # id -> current entity
        self._stmts: set[tuple[str, str, str]] = set()
        self._checksums: set[tuple[str, frozenset]] = set()

    # ------------------------------------------------------------ ids
    def _new_id(self) -> str:
        while True:
            eid = f"{self.prefix}{self.rng.getrandbits(52):013x}"
            if eid not in self.entities:
                return eid

    def _props(self, schema: str, serial: int) -> dict[str, list[str]]:
        r = self.rng
        if schema == "Person":
            name = f"{r.choice(_FIRST)} {r.choice(_LAST)} {serial}"
            props = {
                "name": [name],
                "nationality": [r.choice(COUNTRIES)],
                "birthDate": [f"19{r.randint(40, 99)}-{r.randint(1, 12):02d}-"
                              f"{r.randint(1, 28):02d}"],
            }
            if r.random() < 0.5:
                props["email"] = [f"user{serial}@example.org"]
        else:
            name = f"{r.choice(_LAST)} {r.choice(_ORG)} {serial}"
            props = {
                "name": [name],
                "country": sorted({r.choice(COUNTRIES) for _ in range(r.randint(1, 2))}),
                "registrationNumber": [f"RN{r.getrandbits(32):08x}"],
            }
            if schema == "Company":
                props["incorporationDate"] = [f"{r.randint(1950, 2023)}-01-01"]
        return props

    def _record(self, ent: dict) -> None:
        eid = ent["id"]
        pairs = frozenset(
            (prop, v) for prop, vals in ent["properties"].items() for v in vals
        )
        for prop, v in pairs:
            self._stmts.add((eid, prop, v))
        self._checksums.add((eid, pairs))
        self.entities[eid] = ent

    # ------------------------------------------------------- batches
    def new_entities(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            eid = self._new_id()
            schema = self.rng.choice(SCHEMATA)
            ent = {"id": eid, "schema": schema,
                   "properties": self._props(schema, len(self.entities))}
            self._record(ent)
            out.append(ent)
        return out

    def update_batch(self, n: int, tag: str) -> list[dict]:
        """About half updates of existing ids (a new ``name`` value
        tagged with ``tag``), half new entities."""
        n_upd = n // 2
        upd_ids = self.rng.sample(sorted(self.entities), n_upd)
        out = []
        for eid in upd_ids:
            old = self.entities[eid]
            props = {k: list(v) for k, v in old["properties"].items()}
            props["name"] = [f"{props['name'][0].split(' @')[0]} @{tag}"]
            ent = {"id": eid, "schema": old["schema"], "properties": props}
            self._record(ent)
            out.append(ent)
        return out + self.new_entities(n - n_upd)

    def expected_live_statements(self) -> int:
        """Distinct content statements plus distinct checksum rows —
        what a merged store holds (merge dedupes on the content-addressed
        statement id; a re-emitted identical property set folds its
        checksum row into the earlier one)."""
        return len(self._stmts) + len(self._checksums)

    def expected_query_count(self, schema: str, prop: str, value: str) -> int:
        """Entities of ``schema`` holding ``prop == value`` among the
        statements ever written (statements are never retracted)."""
        ids = {e for e, p, v in self._stmts if p == prop and v == value}
        return sum(1 for e in ids if self.entities[e]["schema"] == schema)


def entity_rows(ents: list[dict]) -> list[tuple]:
    """Rows in ``ENTITY_SCHEMA`` field order."""
    return [
        (e["id"], None, e["schema"], e["properties"], None, None, None, None,
         None, None)
        for e in ents
    ]


# ------------------------------------------------------------ gate tables
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window data column join small customer query order "
          "group filter stream big vector").split()


def write_gate_tables(out_dir: str, seed: int) -> None:
    """``documents`` (500 docs, ~1 in 5 a near-copy of an earlier one),
    ``orders`` (15k), ``lineitem`` (60k) and ``events`` (10k), with the
    column names and types of the sf0.01 test tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed * 7919 + 1)

    texts: list[str] = []
    for i in range(500):
        if i > 10 and r.random() < 0.2:
            words = texts[r.randrange(i)].split()
            words[r.randrange(len(words))] = r.choice(_WORDS)
        else:
            words = [r.choice(_WORDS) for _ in range(r.randint(20, 80))]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": ["en"] * 500,
        "source": [f"src{i % 7}" for i in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    n_orders, n_cust, n_supp = 15000, 1500, 100
    base = datetime(1995, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(r.uniform(1e3, 5e5), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [base + timedelta(days=r.randrange(2500)) for _ in range(n_orders)],
            pa.timestamp("us")),
        "o_orderpriority": [r.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"))
                            for _ in range(n_orders)],
    }), os.path.join(out_dir, "orders.parquet"))

    n_li = 60000
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r.randrange(n_orders) for _ in range(n_li)], pa.int64()),
        "l_partkey": pa.array([r.randrange(2000) for _ in range(n_li)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n_supp) for _ in range(n_li)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n_li)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(n_li)],
        "l_extendedprice": [round(r.uniform(900, 95000), 2) for _ in range(n_li)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(n_li)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(n_li)],
        "l_returnflag": [r.choice("ANR") for _ in range(n_li)],
        "l_linestatus": [r.choice("FO") for _ in range(n_li)],
        "l_shipdate": pa.array(
            [base + timedelta(days=r.randrange(2600)) for _ in range(n_li)],
            pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))

    n_ev = 10000
    t0 = datetime(2024, 1, 1)
    ts = sorted(t0 + timedelta(microseconds=r.randrange(86400 * 30 * 10**6))
                for _ in range(n_ev))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([r.randrange(500) for _ in range(n_ev)], pa.int64()),
        "event_type": [r.choice(("view", "click", "purchase", "error", "login"))
                       for _ in range(n_ev)],
        "value": [round(r.uniform(0, 100), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_ev)],
    }), os.path.join(out_dir, "events.parquet"))

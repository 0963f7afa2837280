"""DuckDB twins that check the engine's outputs outside every timed interval.

- ``QueryTwin`` answers a ``POST /query`` request (any seeds, degree and
  top_k, with the per-step expansion history) from the catalog's parquet.
  It generalises the degree-1 expansion CTE chain of the registered
  ``graph_rag_full_query`` oracle to any degree.
- ``graph_mismatches`` rebuilds all five graph tables from a document set
  with the mock-OpenIE triplet rule (``sql_common.TRIPS_CTE``) and compares
  them with the tables the engine wrote.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from vector_graph_rag_spark.queries.sql_common import TRIPS_CTE, norm_sql
from vector_graph_rag_spark.sources.catalog import TABLE_NAMES
from vector_graph_rag_spark.testing import normalize_frame


def _catalog_views(con: duckdb.DuckDBPyConnection, graph_dir: str) -> None:
    for t in TABLE_NAMES:
        path = os.path.join(graph_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def expansion_ctes(degree: int) -> str:
    """CTE chain of ``graph.expand.expand_subgraph`` for seed names bound
    to ``$seeds``: ``rel_d`` is the relation set after hop d, ``new_ent_d``
    the entities hop d added, ``hop_rel_d`` the relations they spawned."""
    ctes = [
        f"""seeds AS (SELECT DISTINCT sha256('entity:' || {norm_sql('name')}) AS entity_id
                      FROM (SELECT unnest($seeds::VARCHAR[]) AS name))""",
        "ent_0 AS (SELECT entity_id FROM seeds)",
        """rel_0 AS (SELECT DISTINCT er.relation_id FROM entity_relation er
                     JOIN seeds s ON er.entity_id = s.entity_id)""",
    ]
    for d in range(1, degree + 1):
        p = d - 1
        ctes += [
            f"""hop_ent_{d} AS (SELECT DISTINCT er.entity_id FROM entity_relation er
                                JOIN rel_{p} r ON er.relation_id = r.relation_id)""",
            f"""new_ent_{d} AS (SELECT entity_id FROM hop_ent_{d}
                                EXCEPT SELECT entity_id FROM ent_{p})""",
            f"""ent_{d} AS (SELECT entity_id FROM ent_{p}
                            UNION SELECT entity_id FROM new_ent_{d})""",
            f"""hop_rel_{d} AS (SELECT DISTINCT er.relation_id FROM entity_relation er
                                JOIN new_ent_{d} n ON er.entity_id = n.entity_id)""",
            f"""rel_{d} AS (SELECT relation_id FROM rel_{p}
                            UNION SELECT relation_id FROM hop_rel_{d})""",
        ]
    return ",\n".join(ctes)


def passages_sql(degree: int) -> str:
    return f"""
WITH {expansion_ctes(degree)},
scored AS (
  SELECT rp.passage_id, COUNT(*) AS n_supporting_relations
  FROM relation_passage rp JOIN rel_{degree} r ON r.relation_id = rp.relation_id
  GROUP BY rp.passage_id
),
ranked AS (
  SELECT passage_id, n_supporting_relations,
         row_number() OVER (ORDER BY n_supporting_relations DESC, passage_id ASC) AS rank
  FROM scored
)
SELECT r.passage_id, r.rank, r.n_supporting_relations, p.text
FROM ranked r JOIN passages p ON p.id = r.passage_id
WHERE r.rank <= $top_k
ORDER BY r.rank
"""


def history_sql(degree: int) -> str:
    parts = ["SELECT 'ent_0' AS tag, entity_id AS id FROM ent_0",
             "SELECT 'rel_0', relation_id FROM rel_0"]
    for d in range(1, degree + 1):
        parts += [f"SELECT 'new_ent_{d}', entity_id FROM new_ent_{d}",
                  f"SELECT 'hop_rel_{d}', relation_id FROM hop_rel_{d}"]
    return f"WITH {expansion_ctes(degree)}\n" + "\nUNION ALL\n".join(parts)


def history_from_sets(sets: dict[str, set], degree: int) -> list[dict]:
    """The ``expansion_history`` list ``POST /query`` returns, from the
    per-step id sets of ``history_sql``."""
    ent = set(sets.get("ent_0", ()))
    rel = set(sets.get("rel_0", ()))
    out = [{
        "step": 0,
        "operation": "init_merge",
        "description": "Merged relations from initial entities with initial relations",
        "added_entity_ids": [],
        "added_relation_ids": sorted(rel),
        "total_entities": len(ent),
        "total_relations": len(rel),
    }]
    for d in range(1, degree + 1):
        new_ent = sorted(sets.get(f"new_ent_{d}", ()))
        new_rel = sorted(set(sets.get(f"hop_rel_{d}", ())) - rel)
        ent.update(new_ent)
        rel.update(new_rel)
        out.append({
            "step": d,
            "operation": f"expand_degree_{d}",
            "description": f"Relations -> entities -> relations (hop {d})",
            "added_entity_ids": new_ent,
            "added_relation_ids": new_rel,
            "total_entities": len(ent),
            "total_relations": len(rel),
        })
    return out


class QueryTwin:
    """Expected ``POST /query`` payloads, computed from the graph's parquet."""

    def __init__(self, graph_dir: str):
        self._dir = graph_dir
        self._con = duckdb.connect()

    def close(self) -> None:
        self._con.close()

    def expected(self, request: dict) -> dict:
        # The graph directory is replaced by every write; re-bind the views.
        _catalog_views(self._con, self._dir)
        degree = int(request["degree"])
        params = {"seeds": list(request["seed_entities"]), "top_k": int(request["top_k"])}
        rows = self._con.execute(passages_sql(degree), params).fetchall()
        out = {"passages": [
            {"passage_id": pid, "rank": int(rank), "n_supporting_relations": int(n), "text": text}
            for pid, rank, n, text in rows
        ]}
        if request.get("include_history"):
            sets: dict[str, set] = {}
            for tag, id_ in self._con.execute(history_sql(degree), {"seeds": params["seeds"]}).fetchall():
                sets.setdefault(tag, set()).add(id_)
            out["expansion_history"] = history_from_sets(sets, degree)
        return out

    def check(self, request: dict, response: dict) -> str | None:
        """None when ``response`` equals the twin's answer, else a reason."""
        want = self.expected(request)
        for key in ("passages", "expansion_history"):
            if want.get(key) != response.get(key):
                return f"{key} differs for {request}"
        return None


# Five graph tables from a `documents` relation, with the arrays the engine
# stores sorted.  The arrays on the node tables are derived from the edge
# tables, which is how both a full build and an upsert define them.
_GRAPH_CTES = f"""
WITH {TRIPS_CTE},
mentions AS (
      SELECT subj_entity_id AS id, subject AS name, passage_id, tidx, 0 AS part FROM trips
  UNION ALL
      SELECT obj_entity_id, object, passage_id, tidx, 1 FROM trips
),
entity_names AS (
  SELECT id, name FROM (
    SELECT id, name, row_number() OVER (PARTITION BY id ORDER BY passage_id, tidx, part) AS rn
    FROM mentions) WHERE rn = 1
),
relation_rows AS (
  SELECT id, text, subject, predicate, object, src_entity_id, dst_entity_id FROM (
    SELECT rel_id AS id, rel_text AS text, subject, predicate, object,
           subj_entity_id AS src_entity_id, obj_entity_id AS dst_entity_id,
           row_number() OVER (PARTITION BY rel_id ORDER BY passage_id, tidx) AS rn
    FROM trips) WHERE rn = 1
),
ent_rel AS (SELECT entity_id, list_sort(list(DISTINCT relation_id)) AS ids
            FROM entity_relation GROUP BY entity_id),
ent_pass AS (SELECT er.entity_id, list_sort(list(DISTINCT rp.passage_id)) AS ids
             FROM entity_relation er JOIN relation_passage rp USING (relation_id)
             GROUP BY er.entity_id),
rel_pass AS (SELECT relation_id, list_sort(list(DISTINCT passage_id)) AS ids
             FROM relation_passage GROUP BY relation_id),
pass_rel AS (SELECT passage_id, list_sort(list(DISTINCT rel_id)) AS ids
             FROM trips GROUP BY passage_id),
pass_ent AS (SELECT passage_id, list_sort(list(DISTINCT id)) AS ids
             FROM mentions GROUP BY passage_id)
"""

GRAPH_TWIN_SQL = {
    "entities": _GRAPH_CTES + """
SELECT n.id, n.name, coalesce(ep.ids, []) AS passage_ids, coalesce(er.ids, []) AS relation_ids
FROM entity_names n LEFT JOIN ent_pass ep ON ep.entity_id = n.id
LEFT JOIN ent_rel er ON er.entity_id = n.id""",
    "relations": _GRAPH_CTES + """
SELECT r.*, coalesce(rp.ids, []) AS passage_ids
FROM relation_rows r LEFT JOIN rel_pass rp ON rp.relation_id = r.id""",
    "passages": _GRAPH_CTES + """
SELECT d.doc_id AS id, d.text, coalesce(pe.ids, []) AS entity_ids, coalesce(pr.ids, []) AS relation_ids
FROM docs d LEFT JOIN pass_ent pe ON pe.passage_id = d.doc_id
LEFT JOIN pass_rel pr ON pr.passage_id = d.doc_id""",
    "entity_relation": _GRAPH_CTES + "SELECT entity_id, relation_id FROM entity_relation",
    "relation_passage": _GRAPH_CTES + "SELECT relation_id, passage_id FROM relation_passage",
}


def graph_mismatches(graph_dir: str, documents: pd.DataFrame) -> list[str]:
    """Names of the graph tables under ``graph_dir`` that differ from a
    full build over ``documents`` (doc_id, text, source)."""
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        bad = []
        for t, sql in GRAPH_TWIN_SQL.items():
            want = normalize_frame(con.execute(sql).df())
            path = os.path.join(graph_dir, f"{t}.parquet", "*.parquet")
            got = normalize_frame(con.execute(f"SELECT * FROM read_parquet('{path}')").df())
            if list(got.columns) != list(want.columns) or not got.equals(want):
                bad.append(t)
        return bad
    finally:
        con.close()

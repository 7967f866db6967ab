"""The SPARQL mix one closed-loop client sends, each query with the
DuckDB SQL that computes its reference answer over the same parquet
(a view ``kg(subj, pred, obj, obj_type)``).

Constants name entities of the fixed 13-entry alias dictionary, so
the queries have answers over a KG the pipeline built: E01
('customer', a Person) is the hot entity of the generated KG.
"""

from __future__ import annotations

from dataclasses import dataclass

HOT = "ent:E01"
OTHER = "ent:E08"


@dataclass(frozen=True)
class Query:
    name: str
    form: str  # select | aggregate | construct
    sparql: str
    sql: str
    ordered: bool = False


# one pass sends each query kind once, so the kinds weigh equally: a
# point lookup; a star/chain BGP; OPTIONAL; UNION, VALUES and MINUS on
# the hot entity; a GROUP BY aggregate; a p+ path; and a CONSTRUCT
# written to parquet
MIX: list[Query] = [
    Query(
        "point", "select",
        f"SELECT ?p ?o WHERE {{ {HOT} ?p ?o }}",
        f"SELECT pred, obj FROM kg WHERE subj = '{HOT}'",
    ),
    Query(
        "star_chain", "select",
        f"SELECT ?d ?e ?t WHERE {{ ?d mentions {HOT} . ?d locations ?e . ?e a ?t }}",
        f"""SELECT a.subj, b.obj, c.obj FROM kg a
            JOIN kg b ON b.subj = a.subj AND b.pred = 'locations'
            JOIN kg c ON c.subj = b.obj AND c.pred = '@type'
            WHERE a.pred = 'mentions' AND a.obj = '{HOT}'""",
    ),
    Query(
        "optional", "select",
        f"SELECT ?d ?e WHERE {{ ?d mentions {HOT} . OPTIONAL {{ ?d about ?e }} }}",
        f"""SELECT a.subj, b.obj FROM kg a
            LEFT JOIN kg b ON b.subj = a.subj AND b.pred = 'about'
            WHERE a.pred = 'mentions' AND a.obj = '{HOT}'""",
    ),
    Query(
        "union_values_minus", "select",
        f"SELECT DISTINCT ?d WHERE {{ VALUES ?e {{ {HOT} {OTHER} }} "
        "{ ?d mentions ?e } UNION { ?d about ?e } MINUS { ?d locations ?x } }",
        f"""SELECT DISTINCT subj FROM kg
            WHERE pred IN ('mentions', 'about') AND obj IN ('{HOT}', '{OTHER}')
            EXCEPT SELECT subj FROM kg WHERE pred = 'locations'""",
    ),
    Query(
        "top_mentioned", "aggregate",
        "SELECT ?e (COUNT(?d) AS ?n) WHERE { ?d mentions ?e } "
        "GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10",
        """SELECT obj, count(subj) AS n FROM kg WHERE pred = 'mentions'
           GROUP BY obj ORDER BY n DESC, obj LIMIT 10""",
        ordered=True,
    ),
    Query(
        "path", "select",
        "SELECT ?e ?n WHERE { ?e a ?t . ?t subClassOf+ Agent . ?e name ?n }",
        """WITH RECURSIVE up(c, a) AS (
               SELECT subj, obj FROM kg WHERE pred = 'subClassOf'
               UNION
               SELECT up.c, k.obj FROM up JOIN kg k ON k.subj = up.a AND k.pred = 'subClassOf')
           SELECT t.subj, n.obj FROM kg t
           JOIN (SELECT DISTINCT c FROM up WHERE a = 'Agent') s ON s.c = t.obj
           JOIN kg n ON n.subj = t.subj AND n.pred = 'name'
           WHERE t.pred = '@type'""",
    ),
    Query(
        "construct", "construct",
        f"CONSTRUCT {{ ?d relatedPlace ?e }} WHERE {{ ?d mentions {HOT} . ?d locations ?e }}",
        f"""SELECT DISTINCT a.subj, 'relatedPlace', b.obj FROM kg a
            JOIN kg b ON b.subj = a.subj AND b.pred = 'locations'
            WHERE a.pred = 'mentions' AND a.obj = '{HOT}'""",
    ),
]

"""Expected outputs computed apart from the program.

The RAG answers are re-derived from the inputs with a NumPy/hashlib copy of
the hashing embedder, a brute-force top-k, a DuckDB BM25 and an RRF fusion,
then rendered to the answer the deterministic template LLM gives for that
prompt.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import struct

import numpy as np
import pandas as pd

DIM = 64
SALT = "spark-graft"
#: two scores closer than this are a tie the engine may order either way
SCORE_TOL = 1e-9


def _token_vec(tok: str, cache: dict) -> np.ndarray:
    v = cache.get(tok)
    if v is None:
        vals = []
        counter = 0
        while len(vals) < DIM:
            h = hashlib.md5(f"{SALT}|{tok}|{counter}".encode()).digest()
            vals.extend(u / 2**31 - 1.0 for u in struct.unpack(">4I", h))
            counter += 1
        v = np.asarray(vals[:DIM])
        v = v / (np.linalg.norm(v) or 1.0)
        cache[tok] = v
    return v


def embed(texts) -> np.ndarray:
    """Mean of md5-seeded token vectors, L2-normalized, as float32 (the
    embedding column's type), then widened for scoring."""
    cache: dict = {}
    out = np.zeros((len(texts), DIM))
    for i, text in enumerate(texts):
        toks = (text or "").lower().split()
        if not toks:
            continue
        acc = np.zeros(DIM)
        for t in toks:
            acc += _token_vec(t, cache)
        out[i] = acc / (np.linalg.norm(acc) or 1.0)
    return out.astype(np.float32).astype(np.float64)


def vector_ranking(q_vecs: np.ndarray, c_vecs: np.ndarray, ids: np.ndarray, pool: int):
    """Per question: ``(ids, scores)`` of the top ``pool`` by dot product,
    score descending then id ascending."""
    scores = q_vecs @ c_vecs.T
    out = []
    for row in scores:
        order = np.lexsort((ids, -row))[:pool]
        out.append((ids[order], row[order]))
    return out


def tie_variants(ids, scores, k: int, limit: int = 24):
    """Orderings of the first ``k`` ids that differ from the canonical one
    only inside groups of scores within :data:`SCORE_TOL` — the choices an
    exact engine may make at a float tie."""
    ids, scores = list(ids), list(scores)
    groups, start = [], 0
    for i in range(1, len(ids) + 1):
        if i == len(ids) or abs(scores[i] - scores[start]) > SCORE_TOL:
            groups.append(ids[start:i])
            start = i
    variants, prefix = [], []
    # groups wholly inside the cut keep their members (any order); the group
    # straddling the cut may contribute any subset of the right size
    for g in groups:
        room = k - len(prefix)
        if room <= 0:
            break
        if len(g) <= room:
            prefix.append(g)
            continue
        prefix.append(("cut", g, room))
        break
    choices = []
    for g in prefix:
        if isinstance(g, tuple):
            _, members, room = g
            choices.append([p for c in itertools.combinations(members, room) for p in itertools.permutations(c)])
        else:
            choices.append(list(itertools.permutations(g)))
    for combo in itertools.product(*choices):
        variants.append([x for part in combo for x in part])
        if len(variants) >= limit:
            break
    return variants


def answer(content: str, product_texts: list[str]) -> str:
    """The ``json_response`` the template LLM returns for the pipeline's
    prompt over ``product_texts`` (in rank order)."""
    products = json.dumps([{"content": t} for t in product_texts], separators=(",", ":"))
    prompt = json.dumps({"prompt": content, "products": products}, separators=(",", ":"), ensure_ascii=False)
    digest = hashlib.md5(prompt.encode()).hexdigest()[:12]
    return json.dumps(
        {
            "role": "assistant",
            "content": f"[template-llm:{digest}] You are a friendly shopping assistant: "
            f"answering from prompt of {len(prompt)} chars",
        },
        separators=(",", ":"),
    )


_BM25_SQL = """
WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t FROM docs),
lens AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
impact AS (
  SELECT tf.doc_id, tf.term,
    CAST(round(
      ln(1.0 + (CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
      * (CAST(tf.tf AS DOUBLE) * 2.2)
      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
      * 1000000000.0) AS BIGINT) AS impact_n
  FROM tf JOIN dfreq d USING (term) JOIN lens l ON tf.doc_id = l.doc_id CROSS JOIN stats s),
qterms AS (SELECT query_id, unnest(list_distinct(
             string_split(trim(regexp_replace(lower(query_text), '\\s+', ' ', 'g')), ' '))) AS term
           FROM queries),
scored AS (SELECT q.query_id, i.doc_id, SUM(i.impact_n) AS score_n
           FROM qterms q JOIN impact i USING (term) GROUP BY 1, 2),
kw AS (SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY score_n DESC, doc_id ASC) AS INTEGER) AS rank FROM scored),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         a.rank AS rank_a, b.rank AS rank_b
  FROM (SELECT * FROM kw WHERE rank <= {pool}) a FULL OUTER JOIN vec b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
rrf AS (SELECT query_id, doc_id,
          ROUND(COALESCE(1.0 / (60 + rank_a), 0.0) + COALESCE(1.0 / (60 + rank_b), 0.0), 6) AS s
        FROM fused)
SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk
FROM rrf QUALIFY rnk <= {k}
"""


def hybrid_top(questions: pd.DataFrame, corpus: pd.DataFrame, vec_pool: list, k: int, pool: int) -> dict:
    """Question index → fused top-``k`` product ids: DuckDB BM25 top-``pool``
    RRF-fused (1/(60+rank), rounded to 6 places, ties on id) with the
    brute-force vector top-``pool``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("docs", corpus.rename(columns={"product_id": "doc_id", "content": "text"}))
        con.register("queries", pd.DataFrame({"query_id": np.arange(len(questions)), "query_text": questions["content"].values}))
        vec = pd.DataFrame(
            [(qi, int(d), r + 1) for qi, (ids, _s) in enumerate(vec_pool) for r, d in enumerate(ids[:pool])],
            columns=["query_id", "doc_id", "rank"],
        )
        con.register("vec", vec)
        rows = con.execute(_BM25_SQL.format(pool=pool, k=k)).fetchall()
    finally:
        con.close()
    out: dict[int, list] = {}
    for qi, d, r in sorted(rows, key=lambda x: (x[0], x[2])):
        out.setdefault(int(qi), []).append(int(d))
    return out


def check_answers(landed: pd.DataFrame, questions: pd.DataFrame, corpus: pd.DataFrame, mode: str, k: int = 3) -> list[str]:
    """Problems with the landed answers (empty when they are right)."""
    problems = []
    counts = landed["sessionid"].value_counts()
    dup = counts[counts > 1]
    if len(dup):
        problems.append(f"{len(dup)} questions answered more than once")
    missing = set(questions["sessionid"]) - set(landed["sessionid"])
    if missing:
        problems.append(f"{len(missing)} questions not answered")
    for resp in landed["json_response"].head(50):
        if json.loads(resp).get("role") != "assistant":
            problems.append(f"answer without role assistant: {resp[:80]}")
            break
    ids = corpus["product_id"].to_numpy()
    texts = dict(zip(corpus["product_id"], corpus["content"]))
    pool = max(4 * k, 20) if mode == "hybrid" else k + 8
    ranking = vector_ranking(embed(questions["content"].tolist()), embed(corpus["content"].tolist()), ids, pool)
    fused = hybrid_top(questions, corpus, ranking, k, pool) if mode == "hybrid" else None
    got = dict(zip(landed["sessionid"], landed["json_response"]))
    wrong = 0
    for qi, (sid, content) in enumerate(zip(questions["sessionid"], questions["content"])):
        if sid not in got:
            continue
        if fused is not None:
            candidates = [fused.get(qi, [])]
        else:
            candidates = tie_variants(*ranking[qi], k)
        if not any(got[sid] == answer(content, [texts[p] for p in c]) for c in candidates):
            wrong += 1
    if wrong:
        problems.append(f"{wrong} of {len(questions)} answers differ from the expected top-{k} products")
    return problems

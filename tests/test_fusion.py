"""Fusion tests: blocking (J3), block cap, spectral UDF (M2-M7), judge (J14),
connected components + contraction (J16)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mmgraphrag_spark.operators import fusion as FU


def test_neighborhood_blocks(spark):
    img_members = spark.createDataFrame(
        [("img://d1/0", "d1", 2, '"E1 (IMAGE)"', "img desc")],
        ["block_id", "doc_id", "chunk_order_index", "entity_name", "description"],
    )
    text_occ = spark.createDataFrame(
        [
            ('"NEAR"', "near desc", "d1", 1),
            ('"EXACT"', "exact desc", "d1", 2),
            ('"FAR"', "far desc", "d1", 5),
            ('"OTHERDOC"', "other", "d2", 2),
        ],
        ["entity_name", "description", "doc_id", "chunk_order_index"],
    )
    members = FU.neighborhood_blocks(img_members, text_occ, window=1).collect()
    names = {(r.entity_name, r.kind) for r in members}
    assert ('"NEAR"', "text") in names and ('"EXACT"', "text") in names
    assert ('"E1 (IMAGE)"', "img") in names
    assert not any(n in {'"FAR"', '"OTHERDOC"'} for n, _ in names)


def test_cap_blocks(spark):
    rows = [("b1", f'"E{i}"', "text", "d") for i in range(10)]
    df = spark.createDataFrame(rows, ["block_id", "entity_name", "kind", "description"])
    capped = FU.cap_blocks(df, max_block=4)
    sizes = capped.groupBy("block_id").count().collect()
    assert all(r["count"] <= 4 for r in sizes)
    assert sum(r["count"] for r in sizes) == 10


def test_spectral_cluster_and_judge(spark):
    members = spark.createDataFrame(
        [
            ("b1", '"ENTITY_1"', "text", "ENTITY_1 is a PERSON associated with topic_0."),
            ("b1", '"ENTITY_2"', "text", "ENTITY_2 is a GEO associated with topic_3."),
            ("b1", '"ENTITY_1 (IMAGE)"', "img", "object depicting ENTITY_1 in img://x"),
        ],
        ["block_id", "entity_name", "kind", "description"],
    )
    clustered = FU.spectral_cluster_blocks(members)
    rows = {r.entity_name: r.label for r in clustered.collect()}
    # image entity takes the label of its nearest text entity (M6)
    assert rows['"ENTITY_1 (IMAGE)"'] == rows['"ENTITY_1"']
    pairs = FU.judge_alignment(clustered).collect()
    assert [(p.alias, p.canonical) for p in pairs] == [
        ('"ENTITY_1 (IMAGE)"', '"ENTITY_1"')
    ]


def test_connected_components_chain(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], ["alias", "canonical"]
    )
    comp = {r.entity_name: r.component for r in FU.connected_components(pairs).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"


def test_connected_components_deep_chain_pointer_jump(spark):
    # a 60-hop drift chain (n000-n001-...-n060): plain one-hop hash-min needs
    # 60 rounds, so converging under max_iter=10 PROVES the stale pointer
    # jump's exponential label reach (2^k - 1 hops after k rounds). Both id
    # orientations, since worst-case propagation depends on which end the
    # min sits relative to the id order.
    fwd = [(f"n{i + 1:03d}", f"n{i:03d}") for i in range(60)]
    comp = {
        r.entity_name: r.component
        for r in FU.connected_components(
            spark.createDataFrame(fwd, ["alias", "canonical"]), max_iter=10
        ).collect()
    }
    assert len(comp) == 61 and set(comp.values()) == {"n000"}
    rev = [(f"m{60 - i:03d}", f"m{60 - i + 1:03d}") for i in range(60)]
    comp = {
        r.entity_name: r.component
        for r in FU.connected_components(
            spark.createDataFrame(rev, ["alias", "canonical"]), max_iter=10
        ).collect()
    }
    assert len(comp) == 61 and set(comp.values()) == {"m001"}


def test_alias_map_prefers_text_member(spark):
    pairs = spark.createDataFrame(
        [('"A (IMAGE)"', '"ZZZ"')], ["alias", "canonical"]
    )
    entities = spark.createDataFrame(
        [('"A (IMAGE)"', '"IMG_ENTITY"'), ('"ZZZ"', '"PERSON"')],
        ["entity_name", "entity_type"],
    )
    out = FU.alias_map(pairs, entities).collect()
    # image-typed member is the alias even though its name sorts first
    assert [(r.alias, r.canonical) for r in out] == [('"A (IMAGE)"', '"ZZZ"')]


def test_contract_rewires_and_merges(spark):
    entities = spark.createDataFrame(
        [
            ('"A"', '"PERSON"', "a desc", ["c1"]),
            ('"A (IMAGE)"', '"IMG_ENTITY"', "img desc", ["m1"]),
            ('"B"', '"GEO"', "b desc", ["c2"]),
        ],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    edges = spark.createDataFrame(
        [
            ('"A (IMAGE)"', '"B"', 2.0, "rel1", ["m1"], 1),
            ('"A"', '"B"', 3.0, "rel2", ["c1"], 1),
        ],
        ["src", "tgt", "weight", "description", "source_ids", "order"],
    )
    aliases = spark.createDataFrame([('"A (IMAGE)"', '"A"')], ["alias", "canonical"])
    ents, edgs = FU.contract(entities, edges, aliases)
    e = {r.entity_name: r for r in ents.collect()}
    assert set(e) == {'"A"', '"B"'}
    assert e['"A"'].entity_type == '"PERSON"'  # canonical member's type wins
    assert "a desc" in e['"A"'].description and "img desc" in e['"A"'].description
    assert sorted(e['"A"'].source_ids) == ["c1", "m1"]
    g = edgs.collect()
    assert len(g) == 1  # the two parallel edges merged
    assert g[0].src == '"A"' and g[0].tgt == '"B"' and g[0].weight == 5.0


def test_contract_drops_self_loops(spark):
    entities = spark.createDataFrame(
        [('"A"', '"PERSON"', "d", ["c"]), ('"A2"', '"PERSON"', "d", ["c"])],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    edges = spark.createDataFrame(
        [('"A"', '"A2"', 1.0, "r", ["c"], 1)],
        ["src", "tgt", "weight", "description", "source_ids", "order"],
    )
    aliases = spark.createDataFrame([('"A2"', '"A"')], ["alias", "canonical"])
    _, edgs = FU.contract(entities, edges, aliases)
    assert edgs.count() == 0


def test_name_key_lsh_blocks_pinned_ids(spark):
    """Identical normalized names share every band, and each block id is
    ``b{b}|`` + the '|'-joined band minima of md5("seed{n}:" + gram) over
    the name's char 3-grams, n = b * rows_per_band + r — a pure function of
    the name, whatever ran in the session before."""
    import hashlib

    bands, rows = 4, 2
    entities = spark.createDataFrame(
        [
            ('"Quick Fox"', "text", "a"),
            ('"quickfox (IMAGE)"', "img", "b"),
            ('"Lazy Dog"', "text", "c"),
        ],
        ["entity_name", "kind", "description"],
    )
    got = {}
    for r in FU.name_key_lsh_blocks(entities, bands=bands, rows_per_band=rows).collect():
        got.setdefault(r.entity_name, set()).add(r.block_id)

    def expected(key):
        grams = {key[i : i + 3] for i in range(len(key) - 2)}
        return {
            f"b{b}|"
            + "|".join(
                min(
                    hashlib.md5(f"seed{b * rows + r}:{g}".encode()).hexdigest()
                    for g in grams
                )
                for r in range(rows)
            )
            for b in range(bands)
        }

    assert got['"Quick Fox"'] == got['"quickfox (IMAGE)"'] == expected("quickfox")
    assert got['"Lazy Dog"'] == expected("lazydog")


def test_embedding_blocks_recall_with_semantic_backend(spark):
    """The >=0.9 blocking-recall claim in embedding_blocks' docstring holds
    when embeddings ARE semantic: a scripted backend gives each planted
    (image, text) paraphrase pair near-identical unit vectors (cosine ~0.99)
    and unrelated entities independent random ones; >=90% of pairs must share
    a sign-bit block. (The offline hash-embed backend is not semantic — its
    tests assert partial recall only.) Backend defined in-function so
    cloudpickle ships it by value to the python workers."""

    class ScriptedSemanticBackend:
        """Fixed vectors keyed by the planted pair id in the text: pair k's
        image and text variants differ by a small seeded perturbation."""

        def embed(self, texts):
            import re

            import numpy as np

            out = []
            for t in texts:
                k = int(re.search(r"(\d+)", t).group(1))
                v = np.random.RandomState(k).randn(32)
                if "IMG_" in t:
                    v = v + 0.03 * np.linalg.norm(v) / np.sqrt(32) * (
                        np.random.RandomState(1000 + k).randn(32)
                    )
                v = v / np.linalg.norm(v)
                out.append(v.tolist())
            return out

    n_pairs = 20
    rows = []
    for i in range(n_pairs):
        rows.append((f'"IMG_{i}"', "img", f"paraphrase {i} seen in a photo"))
        rows.append((f'"TXT_{i}"', "text", f"written mention {i} in prose"))
    typed = spark.createDataFrame(rows, ["entity_name", "kind", "description"])
    blocks = FU.embedding_blocks(typed, embed_backend=ScriptedSemanticBackend())
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), "block_id")
        .filter(
            (F.col("a.kind") == "img")
            & (F.col("b.kind") == "text")
            & (
                F.regexp_extract("a.entity_name", r"(\d+)", 1)
                == F.regexp_extract("b.entity_name", r"(\d+)", 1)
            )
        )
        .select(F.regexp_extract("a.entity_name", r"(\d+)", 1).alias("k"))
        .distinct()
        .count()
    )
    assert pairs >= 0.9 * n_pairs


def test_cap_blocks_split_counter(spark):
    """An oversized block is salted into bounded sub-blocks AND the split is
    observable: the Observation metrics (split_blocks / extra_sub_blocks)
    fire with the result's first action, so a pathological blocking band is
    visible rather than silently capped."""
    from pyspark.sql import Observation

    rows = [("big", f'"E{i:02d}"', "text", "d") for i in range(25)] + [
        ("small", '"S"', "text", "d")
    ]
    members = spark.createDataFrame(
        rows, ["block_id", "entity_name", "kind", "description"]
    )
    obs = Observation("caps")
    capped = FU.cap_blocks(members, max_block=10, observation=obs)
    sizes = {
        r.block_id: r.n
        for r in capped.groupBy("block_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"big#0": 10, "big#1": 10, "big#2": 5, "small#0": 1}
    assert FU.log_split_blocks(obs, 10) == {"split_blocks": 1, "extra_sub_blocks": 2}


def test_judge_alignment_llm_backend(spark):
    """LLM judge path (J14 with backend): per image entity, one judge call over
    its same-cluster candidates; only a reply naming an offered candidate
    aligns. The scripted reply names APPLE, which is a candidate only for the
    apple image entity — the chair entity's identical reply fails validation."""
    from mmgraphrag_spark.backends.llm import ChatClient, LLMJudge, ScriptedTransport

    clustered = spark.createDataFrame(
        [
            ("b1", '"APPLE (LOGO)"', "img", 0),
            ("b1", '"APPLE"', "text", 0),
            ("b1", '"BANANA"', "text", 0),
            ("b2", '"CHAIR"', "img", 1),
            ("b2", '"TABLE"', "text", 1),
        ],
        ["block_id", "entity_name", "kind", "label"],
    )
    descs = spark.createDataFrame(
        [('"APPLE (LOGO)"', "an apple logo"), ('"CHAIR"', "a wooden chair")],
        ["entity_name", "description"],
    )
    client = ChatClient("http://fake", transport=ScriptedTransport(['"APPLE"']))
    out = {
        (r.alias, r.canonical)
        for r in FU.judge_alignment(
            clustered, backend=LLMJudge(client), descriptions=descs
        ).collect()
    }
    assert out == {('"APPLE (LOGO)"', '"APPLE"')}


def test_llm_judge_validation():
    """Driver-side unit: the judge accepts only offered candidates, tolerating
    quote-wrapping drift, and maps anything else (incl. "no match") to None."""
    from mmgraphrag_spark.backends.llm import ChatClient, LLMJudge, ScriptedTransport

    def judge_with(reply, candidates):
        client = ChatClient("http://fake", transport=ScriptedTransport([reply]))
        return LLMJudge(client).judge('"IMG"', "desc", candidates)

    assert judge_with('"A"', ['"A"', '"B"']) == '"A"'
    assert judge_with("A", ['"A"', '"B"']) == '"A"'  # unquoted reply
    assert judge_with("no match", ['"A"']) is None
    assert judge_with('"C"', ['"A"', '"B"']) is None  # not offered


def _enhance_echo_transport():
    """Class defined inside a function so cloudpickle ships it BY VALUE to
    workers (a module-level test class would pickle by reference and fail
    with ModuleNotFoundError there). Parses the entity list out of the
    enhance prompt and returns each entity renamed with an ENHANCED suffix
    (length-matched, valid JSON)."""

    class EnhanceEchoTransport:
        def __call__(self, url, headers, payload):
            import json as _json
            import re as _re

            msg = payload["messages"][-1]["content"]
            items = _json.loads(_re.search(r"\[.*\]", msg, _re.DOTALL).group(0))
            for it in items:
                it["entity_name"] = it["entity_name"].strip('"') + " ENHANCED"
                it["description"] = "enhanced: " + (it.get("description") or "")
            return _json.dumps(
                {"choices": [{"message": {"content": _json.dumps(items)}}]}
            )

    return EnhanceEchoTransport()


def test_enhance_unaligned_selects_and_rewrites(spark):
    """L10: only UNALIGNED image-typed entities are offered to the backend;
    rewritten names come back quoted, aligned/text entities untouched."""
    from mmgraphrag_spark.backends.llm import ChatClient, LLMEnhancer

    ents = spark.createDataFrame(
        [
            ('"IMG_img://d/0"', '"ORI_IMG"', "a photo", ["m1"]),
            ('"A (IMAGE)"', '"IMG_ENTITY"', "crop of A", ["m1"]),
            ('"TXT"', '"PERSON"', "a person", ["c1"]),
        ],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    aliases = spark.createDataFrame([('"A (IMAGE)"', '"A"')], ["alias", "canonical"])
    client = ChatClient("http://fake", transport=_enhance_echo_transport())
    out = FU.enhance_unaligned(ents, aliases, LLMEnhancer(client)).collect()
    assert len(out) == 1
    assert out[0].entity_name == '"IMG_img://d/0"'
    assert out[0].enhanced_name == '"IMG_img://d/0 ENHANCED"'
    assert out[0].enhanced_description.startswith("enhanced: a photo")


def test_pipeline_enhancer_renames_unaligned(spark, documents_df, pipeline_out):
    """Pipeline wiring: enhanced renames ride the alias/contraction path —
    ORI_IMG nodes (never aligned on this corpus) come out under their
    enhanced names; text-side triples unchanged."""
    from mmgraphrag_spark.backends.llm import ChatClient, LLMEnhancer
    from mmgraphrag_spark.pipeline import run_pipeline

    client = ChatClient("http://fake", transport=_enhance_echo_transport())
    out = run_pipeline(spark, documents_df, enhancer=LLMEnhancer(client))
    names = {r.entity_name for r in out["entities"].collect()}
    assert any("ENHANCED" in n for n in names)
    base_text = {
        (r.subj, r.obj, r.weight)
        for r in pipeline_out["triples"].collect()
        if "IMG_" not in r.subj and "IMG_" not in r.obj
    }
    got_text = {
        (r.subj, r.obj, r.weight)
        for r in out["triples"].collect()
        if "IMG_" not in r.subj and "IMG_" not in r.obj
    }
    assert got_text == base_text


def test_llm_cluster_fuser_unit():
    """Driver-side unit (L9): one chat call carrying every cluster and all
    labeled image entities; the JSON-list reply is salvaged and items missing
    either source list are dropped (reference fusion.py:539-544)."""
    import json as _json

    from mmgraphrag_spark.backends.llm import (
        ChatClient,
        LLMClusterFuser,
        ScriptedTransport,
    )

    reply = _json.dumps(
        [
            {
                "entity_name": "Apple Inc",
                "entity_type": '"ORG"',
                "description": "merged",
                "source_image_entities": ['"APPLE (LOGO)"'],
                "source_text_entities": ['"APPLE"'],
            },
            {  # no text sources -> dropped
                "entity_name": "Chair",
                "entity_type": '"OBJ"',
                "description": "x",
                "source_image_entities": ['"CHAIR"'],
                "source_text_entities": [],
            },
        ]
    )
    transport = ScriptedTransport([reply])
    fuser = LLMClusterFuser(ChatClient("http://fake", transport=transport))
    clusters = [
        {"label": 0, "text_entities": [
            {"entity_name": '"APPLE"', "entity_type": '"ORG"', "description": "fruit co"}
        ]}
    ]
    imgs = [
        {"entity_name": '"APPLE (LOGO)"', "entity_type": '"IMG_ENTITY"',
         "description": "a logo", "label": 0}
    ]
    out = fuser.fuse(clusters, imgs)
    assert [o["entity_name"] for o in out] == ["Apple Inc"]
    # one call; system role + both structures in the user prompt
    (msgs,) = transport.calls
    assert msgs[0]["role"] == "system"
    # entity names ride as JSON (inner record-grammar quotes escaped)
    assert '\\"APPLE\\"' in msgs[1]["content"]
    assert '\\"APPLE (LOGO)\\"' in msgs[1]["content"]
    # empty inputs never spend a call
    assert fuser.fuse([], imgs) == [] and len(transport.calls) == 1


def test_cluster_fusion_and_apply(spark):
    """L9 end-to-end over DataFrames: one fuse call per block (members
    sorted, text entities grouped by label), then apply_cluster_fusion
    contracts every source into the first image source, renames it to the
    quoted LLM name, overrides type/description, and sets source_ids to
    img0's ++ txt0's (reference merge_graphs, fusion.py:870-998)."""
    clustered = spark.createDataFrame(
        [
            ("b1", '"IMG_A"', "img", 0),
            ("b1", '"ALPHA"', "text", 0),
            ("b1", '"BETA"', "text", 1),
        ],
        ["block_id", "entity_name", "kind", "label"],
    )
    entities = spark.createDataFrame(
        [
            ('"IMG_A"', '"IMG_ENTITY"', "img desc", ["m1"]),
            ('"ALPHA"', '"PERSON"', "alpha desc", ["c1"]),
            ('"BETA"', '"GEO"', "beta desc", ["c2"]),
        ],
        ["entity_name", "entity_type", "description", "source_ids"],
    )

    class MatchFirstFuser:
        """Deterministic stand-in: merge each image entity with the first
        text entity sharing its label."""

        def fuse(self, clusters, image_entities):
            by_label = {c["label"]: c["text_entities"] for c in clusters}
            out = []
            for img in image_entities:
                texts = by_label.get(img["label"])
                if texts:
                    out.append(
                        {
                            "entity_name": "Alpha Person",
                            "entity_type": '"PERSON"',
                            "description": "merged desc",
                            "source_image_entities": [img["entity_name"]],
                            "source_text_entities": [texts[0]["entity_name"]],
                        }
                    )
            return out

    merged = FU.cluster_fusion(clustered, entities, MatchFirstFuser())
    recs = merged.collect()
    assert len(recs) == 1
    assert recs[0].source_image_entities == ['"IMG_A"']
    assert recs[0].source_text_entities == ['"ALPHA"']

    edges = spark.createDataFrame(
        [
            ('"IMG_A"', '"BETA"', 2.0, "r1", ["m1"], 1),
            ('"ALPHA"', '"BETA"', 3.0, "r2", ["c1"], 1),
            ('"ALPHA"', '"IMG_A"', 1.0, "r3", ["c1"], 1),  # becomes a self-loop
        ],
        ["src", "tgt", "weight", "description", "source_ids", "order"],
    )
    ents2, edges2, aliases = FU.apply_cluster_fusion(entities, edges, merged)
    e = {r.entity_name: r for r in ents2.collect()}
    assert set(e) == {'"Alpha Person"', '"BETA"'}  # quoted LLM name
    assert e['"Alpha Person"'].entity_type == '"PERSON"'
    assert e['"Alpha Person"'].description == "merged desc"  # LLM override
    assert e['"Alpha Person"'].source_ids == ["m1", "c1"]  # img0 ++ txt0
    g = edges2.collect()
    assert len(g) == 1  # parallel edges merged, self-loop dropped
    assert {g[0].src, g[0].tgt} == {'"Alpha Person"', '"BETA"'}
    assert g[0].weight == 5.0
    assert {(r.alias, r.canonical) for r in aliases.collect()} == {
        ('"ALPHA"', '"Alpha Person"'),
        ('"IMG_A"', '"Alpha Person"'),  # the renamed target resolves too
    }


def test_apply_cluster_fusion_cc_path_keeps_rename_pairs(spark):
    """Overlapping merge records force the CC path; an enhancer rename pair
    whose component contains NO record target must still apply (canonical
    preference: record target > input canonical > min name)."""
    entities = spark.createDataFrame(
        [
            ('"I1"', '"IMG_ENTITY"', "i1", ["m1"]),
            ('"I2"', '"IMG_ENTITY"', "i2", ["m2"]),
            ('"I3"', '"IMG_ENTITY"', "i3", ["m3"]),
            ('"T1"', '"PERSON"', "t1", ["c1"]),
        ],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    edges = spark.createDataFrame(
        [('"I3"', '"T1"', 1.0, "r", ["c1"], 1)],
        ["src", "tgt", "weight", "description", "source_ids", "order"],
    )
    # T1 appears in BOTH records (alias with two canonicals -> non-star)
    merged = spark.createDataFrame(
        [
            ("Person One", '"PERSON"', "d1", ['"I1"'], ['"T1"']),
            ("Person Two", '"PERSON"', "d2", ['"I2"'], ['"T1"']),
        ],
        [
            "entity_name", "entity_type", "description",
            "source_image_entities", "source_text_entities",
        ],
    )
    renames = spark.createDataFrame([('"I3"', '"I3X"')], ["alias", "canonical"])
    ents2, edges2, aliases = FU.apply_cluster_fusion(
        entities, edges, merged, extra_pairs=renames
    )
    ali = {(r.alias, r.canonical) for r in aliases.collect()}
    # the rename survived the CC resolution (round-3 review fix)
    assert ('"I3"', '"I3X"') in ali
    names = {r.entity_name for r in ents2.collect()}
    assert '"I3X"' in names and '"I3"' not in names
    # the shared component contracted into the min record target, renamed
    assert '"Person One"' in names
    assert not {'"I1"', '"I2"', '"T1"'} & names
    # the edge followed the rename
    g = edges2.collect()
    assert {g[0].src, g[0].tgt} == {'"I3X"', '"Person One"'}


def _prefix_fuser(skip_types: tuple = ()):
    """Merge each image entity with the first same-label text entity under
    an invented FUSED_ name; image entities whose type is in ``skip_types``
    are left out of every record. Class defined inside a function so
    cloudpickle ships it by value to the workers."""

    class PrefixFuser:
        def fuse(self, clusters, image_entities):
            by_label = {c["label"]: c["text_entities"] for c in clusters}
            out = []
            for img in image_entities:
                texts = by_label.get(img["label"])
                if texts and img["entity_type"] not in skip_types:
                    tname = texts[0]["entity_name"].strip('"')
                    out.append(
                        {
                            "entity_name": f"FUSED_{tname}",
                            "entity_type": '"PERSON"',
                            "description": "cluster-fused",
                            "source_image_entities": [img["entity_name"]],
                            "source_text_entities": [texts[0]["entity_name"]],
                        }
                    )
            return out

    return PrefixFuser()


def test_pipeline_cluster_fuser_mode(spark, documents_df, pipeline_out):
    """Pipeline wiring: cluster_fuser mode replaces the judge/contract tail —
    merged names appear in the final entities, aliases map sources to the
    final names, and blocks with no merge decisions pass through unchanged."""
    from mmgraphrag_spark.pipeline import run_pipeline

    out = run_pipeline(spark, documents_df, cluster_fuser=_prefix_fuser())
    names = {r.entity_name for r in out["entities"].collect()}
    fused = {n for n in names if n.startswith('"FUSED_')}
    assert fused, "expected at least one cluster-fused entity"
    ali = {(r.alias, r.canonical) for r in out["aliases"].collect()}
    assert all(c in names for _, c in ali)
    # the merged records surface for audit
    assert out["cluster_fused"].count() == len(fused) or out[
        "cluster_fused"
    ].count() >= len(fused)


def test_pipeline_cluster_fuser_with_enhancer(spark, documents_df):
    """L9 + L10 together: the fuser leaves every ORI_IMG entity out of its
    records, so the enhancer renames those; the renames ride
    apply_cluster_fusion's contraction, so each ENHANCED name is a final
    entity and the alias map reaches it, next to the FUSED_ records."""
    from mmgraphrag_spark.backends.llm import ChatClient, LLMEnhancer
    from mmgraphrag_spark.pipeline import run_pipeline

    client = ChatClient("http://fake", transport=_enhance_echo_transport())
    out = run_pipeline(
        spark,
        documents_df,
        cluster_fuser=_prefix_fuser(skip_types=('"ORI_IMG"',)),
        enhancer=LLMEnhancer(client),
    )
    names = {r.entity_name for r in out["entities"].collect()}
    assert any(n.startswith('"FUSED_') for n in names)
    enhanced = {n for n in names if n.endswith(' ENHANCED"')}
    assert enhanced, "expected the enhancer to rename an unaligned image entity"
    ali = {(r.alias, r.canonical) for r in out["aliases"].collect()}
    assert enhanced & {c for _, c in ali}
    assert all(c in names for _, c in ali)
    # a renamed entity is gone under its old name
    assert not {a for a, c in ali if c in enhanced} & names


def test_dbscan_eps_reference_semantics():
    """M5 faithful DBSCAN (driver-side unit, controlled coordinates):
    min_samples gates core status (self counted, sklearn-style), border
    points join an adjacent core's cluster, isolated points become noise -1
    — and ALL noise shares that one label, the reference's downstream quirk."""
    import numpy as np

    from mmgraphrag_spark.operators.fusion import _dbscan_eps

    # line of 3 points 0.4 apart, a 4th point 0.45 past the end, two isolated
    emb = np.array(
        [[0.0], [0.4], [0.8], [1.25], [5.0], [9.0]]
    )
    labels = _dbscan_eps(emb, eps=0.5, min_samples=2)
    assert labels[0] == labels[1] == labels[2] == 0  # one chained cluster
    assert labels[3] == 0   # 2 neighbors incl. self -> core, joins the chain
    assert labels[4] == -1 and labels[5] == -1  # noise shares -1

    # min_samples=3: points 1 and 2 are core (3 neighbors incl. self); points
    # 0 and 3 are BORDER (non-core, adjacent to a core) and join the cluster
    labels3 = _dbscan_eps(emb, eps=0.5, min_samples=3)
    assert labels3[0] == labels3[1] == labels3[2] == labels3[3]
    assert labels3[0] >= 0
    assert labels3[4] == -1 and labels3[5] == -1

    # min_samples=1: every point is core -> pure eps-graph components
    labels1 = _dbscan_eps(emb, eps=0.5, min_samples=1)
    assert labels1[0] == labels1[1] == labels1[2] == labels1[3] == 0
    assert labels1[4] == 4 and labels1[5] == 5  # singletons cluster alone

    # sklearn parity on the same input (skipped when sklearn is absent)
    try:
        from sklearn.cluster import DBSCAN
    except ImportError:
        return
    sk = DBSCAN(eps=0.5, min_samples=2).fit_predict(emb)
    # same partition (label VALUES differ; grouping must match)
    import itertools

    for i, j in itertools.combinations(range(len(emb)), 2):
        assert (labels[i] == labels[j]) == (sk[i] == sk[j])


def test_cluster_fusion_drops_items_missing_source_lists(spark):
    """The operator itself enforces the reference's drop rule
    (fusion.py:539-544): a backend item missing either source list — absent
    key OR empty list — is skipped, never a worker KeyError (the backend is
    a documented third-party seam; LLMClusterFuser filters these but the
    operator cannot rely on that)."""
    from mmgraphrag_spark.operators import fusion as FU

    clustered = spark.createDataFrame(
        [
            ("b1", '"IMG_A"', "img", 0),
            ("b1", '"ALPHA"', "text", 0),
        ],
        ["block_id", "entity_name", "kind", "label"],
    )
    entities = spark.createDataFrame(
        [
            ('"IMG_A"', '"IMG_ENTITY"', "img desc", ["m1"]),
            ('"ALPHA"', '"PERSON"', "alpha desc", ["c1"]),
        ],
        ["entity_name", "entity_type", "description", "source_ids"],
    )

    class SloppyFuser:
        def fuse(self, clusters, image_entities):
            return [
                {  # missing source_image_entities key entirely
                    "entity_name": "No Img",
                    "entity_type": '"X"',
                    "description": "d",
                    "source_text_entities": ['"ALPHA"'],
                },
                {  # empty text-source list
                    "entity_name": "No Txt",
                    "entity_type": '"X"',
                    "description": "d",
                    "source_image_entities": ['"IMG_A"'],
                    "source_text_entities": [],
                },
                {  # valid
                    "entity_name": "Kept",
                    "entity_type": '"PERSON"',
                    "description": "merged",
                    "source_image_entities": ['"IMG_A"'],
                    "source_text_entities": ['"ALPHA"'],
                },
            ]

    recs = FU.cluster_fusion(clustered, entities, SloppyFuser()).collect()
    assert [r.entity_name for r in recs] == ["Kept"]

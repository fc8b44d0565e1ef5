import json

from perfbench import inputs


def test_wide_relations_are_seeded():
    a = json.dumps(inputs.wide_relations(7)).encode()
    assert a == json.dumps(inputs.wide_relations(7)).encode()
    assert a != json.dumps(inputs.wide_relations(8)).encode()
    rels = inputs.wide_relations(7)
    assert len(rels) == inputs.N_WIDE_RELATIONS
    assert len({r["rel"] for r in rels}) == len(rels)
    assert all(len(r["seed_ent_tuples"]) >= 2 for r in rels)


def test_documents_are_seeded():
    a = inputs.documents_parquet(7)
    assert a == inputs.documents_parquet(7)
    assert a != inputs.documents_parquet(8)
    t = inputs.documents_table(7)
    assert t.num_rows == inputs.N_DOCUMENTS
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    texts = t.column("text").to_pylist()
    # near duplicates exist, so the similarity joins have pairs to find
    assert sum(x.endswith(" dup") for x in texts) == inputs.N_DOCUMENTS // 20 - 1

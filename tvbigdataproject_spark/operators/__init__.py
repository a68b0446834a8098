from tvbigdataproject_spark.operators.graph import (  # noqa: F401
    Graph,
    filter_edges_by_nodes,
    k_hop_neighborhood,
    pair_candidates,
    vertices_from_edges,
)
from tvbigdataproject_spark.operators.components import (  # noqa: F401
    canonical_survivors,
    connected_components,
)
from tvbigdataproject_spark.operators.dedup import (  # noqa: F401
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_values,
)
from tvbigdataproject_spark.operators.similarity import (  # noqa: F401
    cell_pruned_topk,
    cosine_neardup_pairs,
    cosine_topk,
)
from tvbigdataproject_spark.operators.textstats import (  # noqa: F401
    clean_text_spacy,
    spacy_available,
)
from tvbigdataproject_spark.operators.multimodal import (  # noqa: F401
    attach_fake_payload,
    extract_features,
)

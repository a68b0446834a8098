from tvbigdataproject_spark.functions.core import (  # noqa: F401
    array_to_string,
    normalize_tags,
)
from tvbigdataproject_spark.functions.text import (  # noqa: F401
    shingles,
    simple_clean,
    word_shingles,
)
from tvbigdataproject_spark.functions.hashing import (  # noqa: F401
    hex16_hash,
    hex_bits_hash,
    lsh_bands,
    minhash_signature,
)
from tvbigdataproject_spark.functions.text import simple_tokens  # noqa: F401
from tvbigdataproject_spark.functions.vectors import (  # noqa: F401
    cosine_arrow,
    cosine_similarity,
    dot_product,
    l2_norm,
)

"""Pure-Python extraction/normalization kernel (no Spark imports).

These functions are the byte-identical surface of the engine (BASELINE.json
``input_hint``): they run inside vectorized pandas UDFs on executors and in the
sequential oracle used by the correctness tests.
"""

from .dom import Document, Element, parse, select_links  # noqa: F401
from .extract import PageExtract, body_text, extract_content, extract_page, remove_html_tags  # noqa: F401
from .filters import compile_patterns, is_accepted  # noqa: F401
from .hashing import (  # noqa: F401
    compute_hash,
    compute_hash_segments,
    content_length,
    host_hash,
    sha256_hex,
)
from .rules import (  # noqa: F401
    ClassNameRule,
    ElementStyleRule,
    LambdaRule,
    MinCharacterRule,
    TagNameRule,
    build_rules,
)
from .urlnorm import domain_of, normalize_url  # noqa: F401

from sutro_spark.operators.backends import HttpBackend, StubBackend
from sutro_spark.operators.transform import llm_transform
from sutro_spark.operators.unpack import unpack_json_outputs

__all__ = [
    "StubBackend",
    "HttpBackend",
    "llm_transform",
    "unpack_json_outputs",
]

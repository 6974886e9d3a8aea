from run import Run, mix_op


def test_missing_registry_key_is_a_failed_op():
    run = Run(spark=None, work="/nonexistent", seed=1, seconds=1.0)
    mix_op(run, {}, "q00_missing")
    assert run.failed == 1 and len(run.latencies) == 1
    assert "KeyError" in run.errors[0]


def test_key_with_a_failed_check_is_a_failed_op():
    class DF:
        class write:
            @staticmethod
            def format(_):
                class W:
                    def mode(self, _):
                        return self

                    def save(self):
                        return None

                return W()

    run = Run(spark=None, work="/nonexistent", seed=1, seconds=1.0)
    run.checks = {"good": None, "bad": "values differ"}
    registry = {"good": lambda spark, d: DF(), "bad": lambda spark, d: DF()}
    mix_op(run, registry, "good")
    mix_op(run, registry, "bad")
    assert run.failed == 1 and len(run.latencies) == 2
    assert run.errors == ["bad: values differ"]

package geomesaspark.ext;

import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.FunctionIdentifier;
import org.apache.spark.sql.catalyst.FunctionIdentifier$;
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry$;
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.parser.ParserInterface;
import scala.Function1;
import scala.Option;
import scala.collection.immutable.Seq;
import scala.runtime.AbstractFunction1;
import scala.runtime.AbstractFunction2;
import scala.runtime.BoxedUnit;

/**
 * MLlib's internal SQL functions, registered on first use instead of at
 * session start.
 *
 * <p>spark-mllib's classpath SparkSessionExtensionsProvider
 * ({@code org.apache.spark.sql.ml.InternalFunctionRegistration}) puts
 * {@code vector_to_array}, {@code array_to_vector} and
 * {@code aggregate_metrics} into the JVM-wide internal function registry
 * from its object's static initializer, which builds TypeTag-typed Scala
 * udfs and so starts Scala runtime reflection (about 1 s). Classic
 * {@code org.apache.spark.ml.functions.vector_to_array} and
 * {@code array_to_vector} resolve through those entries. A session that
 * skips the classpath scan ({@code spark.sql.extensions.test.loadFromCp=false})
 * adds this class to {@code spark.sql.extensions} instead. Once the
 * session state exists, each name gets a builder that, when a query first
 * resolves it, initializes MLlib's object (which replaces the builders with
 * the real ones) and hands the call on. A session that never calls them
 * never loads MLlib's registration.
 */
public class LazyMlFunctions
    extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {

  private static final String REGISTRATION =
      "org.apache.spark.sql.ml.InternalFunctionRegistration$";
  private static final String[] NAMES = {
      "vector_to_array", "array_to_vector", "aggregate_metrics"};

  @Override
  public BoxedUnit apply(SparkSessionExtensions extensions) {
    // Spark calls a parser builder once per session state, which a
    // session's first query builds right after the function registry; the
    // stock parser comes back unchanged. Registering from there rather than
    // from here keeps the registry's initialization (70-130 ms, which the
    // first query pays anyway) out of the SparkSession constructor.
    extensions.injectParser(
        new AbstractFunction2<SparkSession, ParserInterface, ParserInterface>() {
          @Override
          public ParserInterface apply(SparkSession session, ParserInterface parser) {
            register();
            return parser;
          }
        });
    return BoxedUnit.UNIT;
  }

  private static void register() {
    SimpleFunctionRegistry registry = FunctionRegistry$.MODULE$.internal();
    for (String name : NAMES) {
      // already registered when MLlib's object was initialized earlier in
      // this JVM (e.g. by a session that ran the classpath scan)
      if (!registry.functionExists(id(name))) {
        registry.createOrReplaceTempFunction(name, new Builder(name), "internal");
      }
    }
  }

  private static FunctionIdentifier id(String name) {
    return FunctionIdentifier$.MODULE$.apply(name);
  }

  private static final class Builder extends AbstractFunction1<Seq<Expression>, Expression> {
    private final String name;

    Builder(String name) {
      this.name = name;
    }

    @Override
    public Expression apply(Seq<Expression> args) {
      try {
        Class.forName(REGISTRATION, true, LazyMlFunctions.class.getClassLoader());
      } catch (ClassNotFoundException e) {
        throw new IllegalStateException("cannot load " + REGISTRATION, e);
      }
      Option<Function1<Seq<Expression>, Expression>> real =
          FunctionRegistry$.MODULE$.internal().lookupFunctionBuilder(id(name));
      if (real.isEmpty() || real.get() == this) {
        throw new IllegalStateException(REGISTRATION + " did not register " + name);
      }
      return real.get().apply(args);
    }
  }
}
